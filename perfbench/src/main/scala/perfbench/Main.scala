package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side. One JVM runs one workload: three timed set-ups (each a
  * fresh Spark session and source registration), one untimed warm-up call
  * of each of the workload's ops, then whole passes over the ops until
  * `--seconds` have elapsed, all on the main data set. It writes raw per-op
  * timings, per-pass layer counters and spans as JSON; `run.py` turns them
  * into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --ref FILE --work DIR --out FILE [--cpus N] [--record REPS]
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, ref: String, work: String, out: String, cpus: Int, record: Int) {
    def mainDir: String = s"$data/main"
  }

  final case class OpRec(name: String, kind: String, seconds: Double, ok: Boolean, err: String)
  final case class Pass(traced: Boolean, wall: Double, ops: Seq[OpRec], layers: Map[String, Double])
  final case class Result(setup: Seq[Double], warmup: Double, passes: Seq[Pass], warmupFailed: Seq[String],
      coverage: Seq[(String, Double)], record: Map[String, Seq[(Long, String)]] = Map.empty)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val c = Conf(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("ref"), need("work"), need("out"),
      kv.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString).toInt,
      kv.getOrElse("record", "0").toInt)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val res = c.workload match {
      case "warehouse" | "corpus_ops" => Queries.run(c, jvmStartMs)
      case "table_writes" => TableWrites.run(c, jvmStartMs)
      case w => sys.error(s"unknown workload $w")
    }
    if (c.trace) writeSpans(s"${c.work}/spans.jsonl", Session.tracer.spans.toSeq)
    Files.write(Paths.get(c.out), Json.result(res, Jvm.peakRssMb).getBytes(StandardCharsets.UTF_8))
    Session.stop()
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.start},"end_ms":${s.end}}""" + "\n"
    }
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Session lifecycle. Every path a session writes goes under the run's work
  * directory. */
object Session {
  val tracer = new Tracer
  private var current: Option[SparkSession] = None

  def active: SparkSession = current.get

  /** The timed set-up, done three times: a fresh Spark session with graft's
    * extensions, the workload's source registration, and one statement
    * through graft's SQL front door. The first also counts the JVM's start
    * before `main`. Returns each set-up's seconds; the last session stays. */
  def setups(c: Main.Conf, jvmStartMs: Double)(register: SparkSession => Unit): Seq[Double] =
    (1 to 3).map { i =>
      val t0 = if (i == 1) jvmStartMs else Clock.nowMs
      val spark = start(c)
      register(spark)
      spark.sql("SHOW GRAFT TABLES").collect()
      (Clock.nowMs - t0) / 1e3
    }

  def start(c: Main.Conf): SparkSession = {
    stop()
    val spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    current = Some(spark)
    spark
  }

  def stop(): Unit = {
    current.foreach(_.stop())
    current = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Registers every input table of `dir` as a temp view, which reads each
    * file's footer. */
  def registerSources(spark: SparkSession, dir: String): Unit =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).foreach { f =>
      spark.read.parquet(f.getPath).createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
    }

  /** Frees the blocks an op left behind (its localCheckpoints and caches)
    * and collects the heap, outside any timed interval, so that every op
    * starts from the same memory state. */
  def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}

/** Order-insensitive digest of a full result: the row count and the sum of
  * `xxhash64` over every column, which forces every column to be computed.
  * Floating-point values are rounded to 6 decimals first so that the digest
  * does not depend on summation order in the last bits. */
object Digest {
  final case class D(rows: Long, hash: String)

  def of(df: DataFrame): D = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = d.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    D(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

/** Reference digests stored with the benchmark (`reference.tsv`): one line
  * per op, `name<TAB>rows<TAB>hash`, where hash `-` means the op is checked
  * by row count only. */
object Reference {
  def load(path: String): Map[String, Digest.D] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val a = l.split('\t')
        a(0) -> Digest.D(a(1).toLong, a(2))
      }.toMap
      finally src.close()
    }
  }

  /** None when `got` matches, else the reason it does not. */
  def mismatch(ref: Map[String, Digest.D], name: String, got: Digest.D): Option[String] =
    ref.get(name) match {
      case None => Some("no reference digest")
      case Some(r) if r.rows != got.rows => Some(s"rows ${got.rows} != ${r.rows}")
      case Some(r) if r.hash != "-" && r.hash != got.hash => Some(s"digest ${got.hash} != ${r.hash}")
      case _ => None
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def result(r: Main.Result, peakRssMb: Double): String = {
    val passes = r.passes.map { p =>
      val ops = p.ops.map(o => s"""{"name":${str(o.name)},"kind":${str(o.kind)},"s":${num(o.seconds)},""" +
        s""""ok":${o.ok},"err":${str(o.err)}}""").mkString("[", ",", "]")
      s"""{"traced":${p.traced},"wall_s":${num(p.wall)},"ops":$ops,"layers":${obj(p.layers)}}"""
    }.mkString("[", ",", "]")
    val cov = r.coverage.map { case (n, f) => s"[${str(n)},${num(f)}]" }.mkString("[", ",", "]")
    val rec = r.record.toSeq.sortBy(_._1).map { case (n, ds) =>
      str(n) + ":" + ds.map { case (rows, h) => s"[$rows,${str(h)}]" }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    s"""{"setup_s":${r.setup.map(num).mkString("[", ",", "]")},"warmup_s":${num(r.warmup)},""" +
      s""""passes":$passes,""" +
      s""""warmup_failed":${r.warmupFailed.map(str).mkString("[", ",", "]")},"coverage":$cov,""" +
      s""""record":$rec,"peak_rss_mb":${num(peakRssMb)}}"""
  }
}

/** Per-pass accumulator of the benchmark's own spans: each op gets an `op`
  * span whose children are the timed calls into one module. */
final class PassTrace(tracer: Tracer, val traced: Boolean) {
  val opSpans = mutable.ArrayBuffer.empty[Span]
  val sums = mutable.LinkedHashMap.empty[String, Double]
  val coverage = mutable.ArrayBuffer.empty[(String, Double)]

  def bump(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v

  /** Times `body`, which times its calls into the layers through the
    * `Child` it is given; returns the op's seconds and its error, or "" on
    * success. In a traced pass the op also fails when its layer spans
    * cover less than [[PassTrace.MinCoverage]] of its time: the layers
    * then miss work the op does. */
  def op(name: String)(body: Child => Option[String]): (Double, String) = {
    val opId = tracer.newId()
    val kids = new Child(opId)
    val t0 = Clock.nowMs
    var err =
      try body(kids).getOrElse("")
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    val t1 = Clock.nowMs
    if (traced) {
      val root = Span(opId, 0, opId, s"op.$name", t0, t1)
      tracer.add(root); kids.spans.foreach(tracer.add)
      opSpans += root
      val cov = if (t1 > t0) kids.spans.map(_.dur).sum / (t1 - t0) else 1.0
      coverage += name -> cov
      if (cov < PassTrace.MinCoverage && err.isEmpty)
        err = f"layer spans cover $cov%.3f of the op's time, under ${PassTrace.MinCoverage}"
    }
    ((t1 - t0) / 1e3, err)
  }

  final class Child(opId: Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    def apply[A](span: String)(f: => A): A = {
      val a = Clock.nowMs
      try f finally {
        val b = Clock.nowMs
        spans += Span(tracer.newId(), opId, opId, span, a, b)
        bump(span + "_s", (b - a) / 1e3)
      }
    }
  }
}

object PassTrace {
  val MinCoverage = 0.9
}
