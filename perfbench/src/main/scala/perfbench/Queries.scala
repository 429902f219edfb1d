package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.Q

/** The `warehouse` and `corpus_ops` workloads: registry queries called
  * through `Q.build(spark, dir)`, each timed through its result digest.
  * The seed sets the op order of every pass. */
object Queries {
  /** Every registry query with the module that defines it. */
  val registry: Seq[(String, Q)] = {
    def in(module: String, qs: Seq[Q]*) = qs.flatten.map(module -> _)
    in("etl", graft.etl.RelationalCore.queries, graft.etl.Matching.queries,
      graft.etl.Windowing.queries, graft.etl.Reporting.queries, graft.etl.Ingest.queries,
      graft.etl.SourceRepair.queries, graft.etl.Dimensional.queries, graft.etl.Pipeline.queries) ++
      in("operators", graft.operators.Dedup.queries, graft.operators.SimilaritySearch.queries,
        graft.operators.Salting.queries) ++
      in("functions", graft.functions.TextAnalysis.queries, graft.functions.BpeTokenizer.queries) ++
      in("multimodal", graft.multimodal.Multimodal.queries)
  }

  /** The op lists: each module of a side, and each mechanism the side is
    * chosen for, in a few seconds of work per pass on the main data set.
    * perfbench/README.md says why each op is in. */
  val workloads: Map[String, Seq[String]] = Map(
    "warehouse" -> Seq(
      "q01_pricing_summary", "q03_fact_royalty", "q19_sessionize", "q23_json_flatten",
      "q39_salted_join", "q52_pipeline"),
    "corpus_ops" -> Seq(
      "dd06_dup_clusters", "dd13_containment", "ann18_graph_search", "tx01_lang_id",
      "mm03_cdc_chunks"))

  def ops(workload: String): Seq[(String, Q)] = {
    val byName = registry.map { case (m, q) => q.name -> (m, q) }.toMap
    workloads(workload).map(byName)
  }

  def run(c: Main.Conf, jvmStartMs: Double): Main.Result = {
    val todo = ops(c.workload)
    val rnd = new Random(c.seed)
    val tracer = Session.tracer
    val warmFailed = mutable.LinkedHashSet.empty[String]

    val setup = Session.setups(c, jvmStartMs)(Session.registerSources(_, c.mainDir))
    val spark = Session.active
    // Warm-up, once and untimed: one call per op, in a fixed order, on the
    // main data set. On a smaller data set the hot loops stay interpreted,
    // and the first timed pass then runs 10-30% slower than the next one.
    val w0 = Clock.nowMs
    todo.foreach { case (_, q) =>
      try Digest.of(q.build(spark, c.mainDir))
      catch { case e: Throwable => warmFailed += s"${q.name}: ${e.getMessage}".take(300) }
      Session.release(spark)
    }
    val warmup = (Clock.nowMs - w0) / 1e3

    if (c.record > 0) {
      // Ops without a DuckDB oracle are checked by row count only.
      val rec = todo.map { case (_, q) =>
        q.name -> (1 to c.record).map { _ =>
          val d = Digest.of(q.build(spark, c.mainDir)); Session.release(spark)
          (d.rows, if (q.oracle.isEmpty) "no-oracle" else d.hash)
        }
      }.toMap
      return Main.Result(setup, warmup, Nil, warmFailed.toSeq, Nil, rec)
    }

    val ref = Reference.load(c.ref)
    val passes = mutable.ArrayBuffer.empty[Main.Pass]
    val coverage = mutable.ArrayBuffer.empty[(String, Double)]
    val start = Clock.nowMs
    // Whole passes until the run length is reached. A traced run alternates
    // untraced and traced passes, at least four, for the tracing overhead.
    while ((Clock.nowMs - start) / 1e3 < c.seconds || (c.trace && passes.size < 4)) {
      val traced = c.trace && passes.size % 2 == 1
      if (traced) tracer.attach(spark)
      val pt = new PassTrace(tracer, traced)
      val layers = mutable.LinkedHashMap.empty[String, Double]
      def add(k: String, v: Double) = layers(k) = layers.getOrElse(k, 0.0) + v
      val gc0 = Jvm.gcSeconds
      val order = rnd.shuffle(todo)
      val recs = order.map { case (module, q) =>
        val (s, err) = pt.op(q.name) { layer =>
          val df = layer(s"$module.build")(q.build(spark, c.mainDir))
          val d = layer(s"$module.exec")(Digest.of(df))
          Reference.mismatch(ref, q.name, d)
        }
        if (traced) {
          add("spark.blocks.cached_bytes", Session.cachedBytes(spark))
          add(s"$module.ops", 1)
          if (err.nonEmpty) add(s"$module.failed", 1)
        }
        Session.release(spark)
        if (err.nonEmpty) System.err.println(s"[perfbench] ${q.name} failed: $err")
        Main.OpRec(q.name, "op", s, err.isEmpty, err)
      }
      if (traced) {
        tracer.detach(spark)
        add("spark.jvm.gc_s", Jvm.gcSeconds - gc0)
        pt.sums.foreach { case (k, v) => add(k, v) }
        tracer.harvest(pt.opSpans.toSeq, c.cpus).foreach { case (k, v) => add(k, v) }
        coverage ++= pt.coverage
      }
      passes += Main.Pass(traced, recs.map(_.seconds).sum, recs, layers.toMap)
    }
    Main.Result(setup, warmup, passes.toSeq, warmFailed.toSeq, coverage.toSeq)
  }
}
