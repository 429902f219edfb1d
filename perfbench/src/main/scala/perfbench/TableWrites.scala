package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The `table_writes` workload: the dw3 incremental-merge lifecycle on one
  * `USING graft-cow` table keyed by `o_orderkey`, all through SQL, with
  * reads between the writes and a `graft-cdf` consumer draining the feed at
  * the end. Every pass starts from empty state. The seed sets which
  * order days form the one-day increments, their order, and which day the
  * MERGE increment brings. */
object TableWrites {
  private val Table = "tw"
  private val cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

  /** Sizes of one lifecycle, in order days (the table_writes data set has
    * about 60 orders a day, day 0 is 1995-01-01). The bootstrap is half of
    * day 0 in 5 files, about 30 rows; the backfill is days 1..BackfillDays,
    * about 6x larger (the FileCow append sizes its files from the table's
    * rows per file, so it writes about 30 files where one would do). Then
    * come DayInserts one-day INSERTs of about 60 rows, a MERGE, an UPDATE
    * over the days of the one-day INSERTs and the MERGE, and a DELETE of
    * one status over days 0..DeleteDays. */
  private val BackfillDays = 3
  private val DayInserts = 3
  private val DeleteDays = 1

  /** One SQL statement of the script; `check` names the reference state a
    * read must reproduce. */
  final case class Stmt(kind: String, sql: String, write: Boolean, check: Option[Int] = None)

  /** The statement script of one pass and the reference states it is
    * checked against, replayed with plain DataFrame union, anti-join and
    * filter. */
  final case class Script(stmts: Seq[Stmt], states: IndexedSeq[DataFrame], changed: Seq[DataFrame])

  def script(spark: SparkSession, table: String, root: String, rnd: Random): Script = {
    val src = spark.table("tw_src")
    val stmts = mutable.ArrayBuffer.empty[Stmt]
    val states = mutable.ArrayBuffer.empty[DataFrame]
    val changed = mutable.ArrayBuffer.empty[DataFrame]
    def proj(df: DataFrame) = df.selectExpr(cols.split(", ").toSeq: _*)
    def state(df: DataFrame): Int = { states += df; states.size - 1 }
    def days(a: Int, b: Int) = proj(src.where(col("day").between(a, b)))
    var cur = proj(src.where(col("day") === 0 && col("o_orderkey") % 2 === 0))
    val keyLo = 100L
    def keyRange(s: Int) = Stmt("select",
      s"SELECT * FROM $table WHERE o_orderkey BETWEEN $keyLo AND ${keyLo + 20000}", write = false,
      Some(state(states(s).where(col("o_orderkey").between(keyLo, keyLo + 20000)))))
    def grouped(s: Int) = Stmt("select",
      s"SELECT o_orderstatus, count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS total " +
        s"FROM $table GROUP BY o_orderstatus",
      write = false, Some(state(states(s).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).as("total")))))

    stmts += Stmt("ctas", s"CREATE TABLE $table USING graft-cow LOCATION '$root' AS " +
      s"SELECT /*+ REPARTITION(5) */ $cols FROM tw_src WHERE day = 0 AND o_orderkey % 2 = 0",
      write = true)
    changed += cur
    var s = state(cur)
    stmts += keyRange(s)
    stmts += Stmt("insert",
      s"INSERT INTO $table SELECT $cols FROM tw_src WHERE day BETWEEN 1 AND ${BackfillDays}", write = true)
    changed += days(1, BackfillDays)
    cur = cur.unionByName(days(1, BackfillDays))
    val backfill = state(cur)
    val backfillVersion = 2
    stmts += grouped(backfill)

    val pool = rnd.shuffle((BackfillDays + 1 to BackfillDays + DayInserts + 1).toList)
    val (inserted, mergeDay) = (pool.init, pool.last)
    inserted.foreach { d =>
      stmts += Stmt("insert", s"INSERT INTO $table SELECT $cols FROM tw_src WHERE day = $d", write = true)
      changed += days(d, d)
      cur = cur.unionByName(days(d, d))
    }
    s = state(cur)
    stmts += keyRange(s)

    // Half the MERGE increment is a new day, half re-states rows of the
    // inserted days.
    val fresh = days(mergeDay, mergeDay)
    val n = math.max(1, fresh.count() / 2).toInt
    val restated = proj(src.where(col("day").isin(inserted: _*)).orderBy("o_orderkey").limit(n))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("o_orderstatus", lit("F"))
    val mergeSrc = fresh.unionByName(restated)
    mergeSrc.createOrReplaceTempView("tw_merge")
    stmts += Stmt("merge", s"MERGE INTO $table t USING tw_merge s ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *", write = true)
    changed += mergeSrc
    cur = cur.join(mergeSrc.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(mergeSrc)
    stmts += Stmt("time_travel", s"SELECT * FROM $table VERSION AS OF $backfillVersion", write = false,
      Some(backfill))

    def date(day: Int) = java.time.LocalDate.of(1995, 1, 1).plusDays(day).toString
    val (updFrom, updTo) = (date(BackfillDays + 1), date(BackfillDays + DayInserts + 2))
    val inMonth = col("o_orderdate") >= lit(updFrom).cast("timestamp") &&
      col("o_orderdate") < lit(updTo).cast("timestamp")
    stmts += Stmt("update", s"UPDATE $table SET o_orderpriority = '1-URGENT' WHERE " +
      s"o_orderdate >= TIMESTAMP '$updFrom' AND o_orderdate < TIMESTAMP '$updTo'", write = true)
    changed += cur.where(inMonth)
    cur = cur.withColumn("o_orderpriority", when(inMonth, lit("1-URGENT")).otherwise(col("o_orderpriority")))
    stmts += Stmt("history", s"DESCRIBE HISTORY $table", write = false)

    val delTo = date(DeleteDays + 1)
    stmts += Stmt("delete", s"DELETE FROM $table WHERE o_orderstatus = 'P' AND " +
      s"o_orderdate < TIMESTAMP '$delTo'", write = true)
    val gone = col("o_orderstatus") === "P" && col("o_orderdate") < lit(delTo).cast("timestamp")
    changed += cur.where(gone)
    cur = cur.where(!gone)
    s = state(cur)
    stmts += grouped(s)
    stmts += Stmt("select", s"SELECT * FROM $table", write = false, Some(state(cur)))
    Script(stmts.toSeq, states.toIndexedSeq, changed.toSeq)
  }

  def run(c: Main.Conf, jvmStartMs: Double): Main.Result = {
    val rnd = new Random(c.seed)
    val tracer = Session.tracer
    val tables = new File(c.work, "tables")
    // Every pass starts from empty state: no table roots or stream
    // checkpoints, an empty warehouse and Derby home, and no table in
    // graft's catalog (each pass drops its table when it ends).
    def fresh(spark: SparkSession): Unit = {
      Seq(tables, new File(c.work, "spark-warehouse"), new File(c.work, "derby")).foreach { d =>
        deleteTree(d); d.mkdirs()
      }
      val left = spark.sql("SHOW GRAFT TABLES").collect()
      require(left.isEmpty, s"graft catalog not empty before a pass: ${left.mkString(", ")}")
    }

    val setup = Session.setups(c, jvmStartMs)(register(_, c.data))
    val spark = Session.active
    val passes = mutable.ArrayBuffer.empty[Main.Pass]
    val coverage = mutable.ArrayBuffer.empty[(String, Double)]
    val start = Clock.nowMs
    // No warm-up: the first pass runs in a fresh JVM, as a daily batch job
    // does. A traced run adds a traced and a second untraced pass, both
    // warm, for the tracing overhead.
    while ((Clock.nowMs - start) / 1e3 < c.seconds || (c.trace && passes.size < 3)) {
      val traced = c.trace && passes.size == 1
      val pt = new PassTrace(tracer, traced)
      if (traced) tracer.attach(spark)
      val gc0 = Jvm.gcSeconds
      fresh(spark)
      val r = pass(spark, c, Table, tables, rnd, pt)
      if (traced) {
        tracer.detach(spark)
        val layers = mutable.LinkedHashMap.empty[String, Double] ++= r.layers
        def add(k: String, v: Double) = layers(k) = layers.getOrElse(k, 0.0) + v
        add("spark.jvm.gc_s", Jvm.gcSeconds - gc0)
        pt.sums.foreach { case (k, v) => add(k, v) }
        add("sources.scan_files", tracer.scanFiles(pt.opSpans.filter(_.name.startsWith("op.select")).toSeq ++
          pt.opSpans.filter(_.name.startsWith("op.time_travel")).toSeq))
        tracer.harvest(pt.opSpans.toSeq, c.cpus).foreach { case (k, v) => add(k, v) }
        sourcesCounters(spark, Table, tables).foreach { case (k, v) => add(k, v) }
        add("sources.rewrite_amp", layers("sources.rows_written") / layers("sources.user_rows").max(1.0))
        add("sources.files_per_read", layers("sources.scan_files") / layers("sources.reads").max(1.0))
        coverage ++= pt.coverage
        passes += r.copy(layers = layers.toMap)
      } else passes += r
      spark.sql(s"DROP TABLE $Table")
    }
    Main.Result(setup, 0.0, passes.toSeq, Nil, coverage.toSeq)
  }

  private def register(spark: SparkSession, dir: String): Unit =
    spark.read.parquet(s"$dir/main/tw_orders.parquet")
      .withColumn("day", datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")))
      .createOrReplaceTempView("tw_src")

  /** One lifecycle: its op records and, when traced, its streaming counters
    * and the rows the user inserted or changed. */
  private def pass(spark: SparkSession, c: Main.Conf, table: String, dir: File, rnd: Random,
      pt: PassTrace): Main.Pass = {
    val root = new File(dir, table).getPath
    val sc = script(spark, table, root, rnd)
    val (stmts, states) = (sc.stmts, sc.states)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double) = layers(k) = layers.getOrElse(k, 0.0) + v
    // reference state -> (digest read, index of the read's op record)
    val got = mutable.Map.empty[Int, (Digest.D, Int)]
    var versions = 0
    val recs = mutable.ArrayBuffer.empty[Main.OpRec]
    stmts.zipWithIndex.foreach { case (st, i) =>
      val (s, err) = pt.op(s"${st.kind}.$i") { layer =>
        if (pt.traced) layer("plans.parse")(spark.sessionState.sqlParser.parsePlan(st.sql))
        layer(s"plans.stmt.${st.kind}") {
          val df = spark.sql(st.sql)
          if (st.write) { versions += 1; None }
          else {
            val d = Digest.of(df)
            st.check.foreach(got(_) = (d, recs.size))
            if (st.kind == "history" && d.rows != versions) Some(s"history has ${d.rows} rows, $versions commits")
            else None
          }
        }
      }
      if (err.nonEmpty) {
        add("plans.failed", 1)
        System.err.println(s"[perfbench] $table ${st.kind} failed: $err")
      }
      recs += Main.OpRec(s"$i.${st.kind}", if (st.write) "write" else "read", s, err.isEmpty, err)
      System.gc()
    }

    // The change feed: one consumer drains every commit of the pass.
    val ck = new File(dir, s"$table-ck").getPath
    var batches = 0L
    var rows = 0L
    val seen = mutable.Set.empty[Long]
    val (feedS, feedErr) = pt.op("feed") { layer =>
      layer("streaming.drain") {
        val q = spark.readStream.format("graft-cdf").option("root", root)
          .option("keys", "o_orderkey").option("startingVersion", "0").load()
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            val vs = b.groupBy("_commit_version").count().collect()
            seen.synchronized {
              batches += 1
              vs.foreach { r => seen += r.getLong(0); rows += r.getLong(1) }
            }
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(120000)) { q.stop(); Some("feed did not drain in 120 s") }
        else if (seen.toSet != (1L to versions).toSet) Some(s"feed delivered versions ${seen.toSeq.sorted}")
        else None
      }
    }
    recs += Main.OpRec("feed", "feed", feedS, feedErr.isEmpty, feedErr)

    // Checks, off the clock: every read against its reference state. A
    // mismatch fails the read.
    got.foreach { case (k, (d, i)) =>
      val want = Digest.of(states(k))
      if (want != d) {
        recs(i) = recs(i).copy(ok = false, err = s"got $d, want $want")
        System.err.println(s"[perfbench] $table ${recs(i).name} mismatch: got $d, want $want")
      }
    }
    if (pt.traced) {
      add("streaming.batches", batches.toDouble)
      add("streaming.rows", rows.toDouble)
      add("streaming.checkpoint_bytes", treeBytes(new File(ck), _ => true).toDouble)
      add("sources.user_rows", sc.changed.map(_.count()).sum.toDouble)
      add("sources.reads", stmts.count(s => s.kind == "select" || s.kind == "time_travel").toDouble)
    }
    Main.Pass(pt.traced, recs.map(_.seconds).sum, recs.toSeq, layers.toMap)
  }

  /** The sources counters, read from outside graft: the table's directory,
    * `DESCRIBE DETAIL` and `DESCRIBE HISTORY`. */
  private def sourcesCounters(spark: SparkSession, table: String, dir: File): Map[String, Double] = {
    val root = new File(dir, table)
    val data = new File(root, "_data")
    val dataFiles = Option(data.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
    val live = spark.sql(s"DESCRIBE DETAIL $table").count()
    val commits = spark.sql(s"DESCRIBE HISTORY $table").count()
    val written = if (dataFiles.isEmpty) 0L else spark.read.parquet(dataFiles.map(_.getPath): _*).count()
    val onceDir = new File(dir, s"$table-once")
    spark.table(table).coalesce(1).write.parquet(onceDir.getPath)
    val once = treeBytes(onceDir, _.getName.endsWith(".parquet"))
    val dataBytes = dataFiles.map(_.length()).sum
    val all = treeBytes(root, _ => true)
    Map(
      "sources.commits" -> commits.toDouble,
      "sources.files_added" -> dataFiles.length.toDouble,
      "sources.files_removed" -> (dataFiles.length - live).toDouble,
      "sources.files_live" -> live.toDouble,
      "sources.bytes_written" -> dataBytes.toDouble,
      "sources.log_bytes" -> (all - dataBytes).toDouble,
      "sources.rows_written" -> written.toDouble,
      "sources.space_amp" -> all.toDouble / once.max(1L))
  }

  private def treeBytes(f: File, keep: File => Boolean): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes(_, keep)).sum
    else if (keep(f)) f.length() else 0L

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    Files.deleteIfExists(f.toPath)
  }
}
