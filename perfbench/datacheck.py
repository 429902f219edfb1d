"""Compares the benchmark's generated tables with a directory of reference
tables of the same scale factor, column by column.

    python3 perfbench/datacheck.py REFERENCE_DIR GENERATED_DIR

Prints one line per statistic: its value in each directory and their
ratio. Numeric columns give their distinct count, mean, median and 90th
percentile; string columns their distinct count and the share of their
most frequent value. The corpus tables add the shape of the word
distribution, the duplicate rates and the embeddings' cluster structure,
which drive the dedup, similarity and text operators.
"""

import collections
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def profile(d):
    out = {}
    for t in TABLES:
        df = pq.read_table(f"{d}/{t}.parquet").to_pandas()
        out[f"{t}.rows"] = len(df)
        for c in df.columns:
            s = df[c]
            if s.dtype.kind == "M":
                s = (s - s.min()).dt.total_seconds() / 86400
            if s.dtype.kind in "if":
                out[f"{t}.{c}.distinct"] = s.nunique()
                out[f"{t}.{c}.mean"] = s.mean()
                out[f"{t}.{c}.p50"] = s.quantile(0.5)
                out[f"{t}.{c}.p90"] = s.quantile(0.9)
            elif isinstance(s.iloc[0], str):
                out[f"{t}.{c}.distinct"] = s.nunique()
                out[f"{t}.{c}.top_share"] = s.value_counts(normalize=True).iloc[0]
    docs = pq.read_table(f"{d}/documents.parquet").to_pandas()
    words = [t.split() for t in docs.text]
    freq = collections.Counter(w for ws in words for w in ws if w != "dup")
    out["documents.words_per_doc"] = np.mean([len(w) for w in words])
    out["documents.vocabulary"] = len(freq)
    out["documents.word_freq_max_over_min"] = max(freq.values()) / min(freq.values())
    out["documents.near_dup_share"] = docs.text.str.endswith(" dup").mean()
    out["documents.exact_dup_share"] = 1 - docs.text.nunique() / len(docs)
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    v = np.stack(emb.embedding.values).astype(np.float64)
    lab = emb.label.values
    # Label centroid norm relative to that of random unit vectors: 1 means
    # the labels carry no cluster structure.
    out["embeddings.centroid_norm_vs_random"] = np.mean(
        [np.linalg.norm(v[lab == k].mean(0)) * np.sqrt((lab == k).sum()) for k in np.unique(lab)])
    g = v @ v.T
    np.fill_diagonal(g, -2)
    out["embeddings.nearest_same_label"] = (lab[g.argmax(1)] == lab).mean()
    out["embeddings.nearest_dot_p50"] = np.median(g.max(1))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    ref, gen = profile(sys.argv[1]), profile(sys.argv[2])
    print(f"{'statistic':48} {'reference':>14} {'generated':>14} {'ratio':>7}")
    for k, a in ref.items():
        b = gen.get(k, float("nan"))
        ratio = b / a if a else float("nan") if b else 1.0
        print(f"{k:48} {a:14.4f} {b:14.4f} {ratio:7.3f}")


if __name__ == "__main__":
    main()
