package perfbench

import graft.config.{CheckType, TableConfig}
import graft.streaming.IncrementalStream
import graft.sync.{ParquetStore, Runner, SyncJob, TableStore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.jdk.CollectionConverters._

/** The four workloads. Each sets up (several times, in fresh directories),
  * runs passes for the measured seconds, then checks its outputs outside
  * the timed region. */
object Workloads {
  val names: Seq[String] = Seq("sync_catalog", "stream_scd2", "stream_append", "curation_batch")

  def run(name: String, r: Run): Unit = name match {
    case "sync_catalog"   => syncCatalog(r)
    case "stream_scd2"    => streamScd2(r)
    case "stream_append"  => streamAppend(r)
    case "curation_batch" => curationBatch(r)
  }

  private def store(r: Run, dir: String): TableStore = {
    val s = new ParquetStore(r.spark, dir)
    if (r.traced) new TimedStore(s) else s
  }

  // ------------------------------------------------------------ sync_catalog

  val SyncSf = 0.02

  /** A catalog table and how the generator changes it each round: about
    * 1% of rows get a new value (and, with a stamp, a strictly newer
    * stamp); about 0.5% new keys are inserted. */
  private final case class SyncTable(cfg: TableConfig, pks: Seq[String], rows: Long,
                                     base: (Long, Long) => DataFrame,
                                     valueCol: Option[String], stampCol: Option[String],
                                     insertIndex: Option[Column])

  /** A round's changed and inserted rows carry stamp 2000-01-01 + round
    * hours, newer than every generated stamp and every earlier round. */
  private def roundStamp(round: Column): Column =
    timestamp_seconds(lit(946684800L) + round * 3600).cast("timestamp_ntz")

  /** Round `k` of a generated source table, computed from the base files
    * and the round number, never from the destination. */
  private def sourceAt(r: Run, baseDir: String, t: SyncTable, k: Int): DataFrame = {
    val base = r.spark.read.parquet(s"$baseDir/${t.cfg.name}.parquet")
    val keys = t.pks.map(col)
    val edited = t.valueCol match {
      case Some(v) if k > 0 =>
        val last = (1 to k).foldLeft(lit(0)) { (acc, i) =>
          when(r.gen.u(s"sync.upd.${t.cfg.name}", 1000, keys :+ lit(i): _*) < 10, lit(i)).otherwise(acc)
        }
        val changed = base.withColumn("__last", last)
          .withColumn(v, when(col("__last") > 0, col(v) + col("__last")).otherwise(col(v)))
        t.stampCol.fold(changed)(s => changed.withColumn(s,
          when(col("__last") > 0, roundStamp(col("__last"))).otherwise(col(s)))).drop("__last")
      case _ => base
    }
    val perRound = t.rows / 200
    t.insertIndex match {
      case Some(idx) if k > 0 && perRound > 0 =>
        val ins = t.base(t.rows, t.rows + k * perRound)
        val stamped = t.stampCol.fold(ins)(s =>
          ins.withColumn(s, roundStamp((idx - t.rows) / perRound + 1)))
        edited.unionByName(stamped.select(edited.columns.map(col): _*))
      case _ => edited
    }
  }

  private def syncCatalog(r: Run): Unit = {
    val g = r.gen
    val sf = SyncSf
    val (nPart, nSupp) = (g.rows(sf, 20000), g.rows(sf, 1000))
    val (nLine, nEv) = (g.rows(sf, 150000) * 4, g.rows(sf, 100000))
    def cfg(name: String, check: Option[(String, CheckType)]) =
      TableConfig(name, check.map(_._1), check.map(_._2), Seq.empty)
    val ts = CheckType.Timestamp
    val tables = Seq(
      SyncTable(cfg("lineitem", Some("l_shipdate" -> ts)), Seq("l_orderkey", "l_linenumber"), nLine,
        (a, b) => g.lineitem(a, b, nPart, nSupp), Some("l_quantity"), Some("l_shipdate"),
        Some((col("l_orderkey") - 1) * 4 + col("l_linenumber") - 1)),
      SyncTable(cfg("events", Some("event_id" -> CheckType.Id)), Seq("event_id"), nEv,
        (a, b) => g.events(a, b), None, None, Some(col("event_id"))),
      SyncTable(cfg("nation", None), Seq("n_nationkey"), 25, (_, _) => g.nation, None, None, None))
    val pks = tables.map(t => t.cfg.name -> t.pks).toMap
    def syncAll(src: TableStore, dst: TableStore) =
      Runner.runAll(tables.map(_.cfg))(c => SyncJob.run(src, dst, c, pks(c.name)))

    def runRound(src: TableStore, dst: TableStore, pass: Int): Unit = {
      val report = Trace.span("runner.runAll", "runner") {
        Runner.runAll(tables.map(_.cfg)) { c =>
          r.op("sync", c.name, pass)(SyncJob.run(src, dst, c, pks(c.name)))(_.rowsUpserted)
            .getOrElse(sys.error(s"sync of ${c.name} failed"))
        }
      }
      // Runner isolates failures per table; they are already counted
      if (report.failed.nonEmpty) System.err.println(s"[perfbench] round $pass: ${report.failed.size} tables failed")
    }

    // the source database of round k, stored as parquet before the round
    // runs, so the sync reads stored tables and not the generator's plan;
    // round 0 is the base itself
    val baseDir = r.dir("base")
    r.once(tables.foreach(t => t.base(0, t.rows).write.parquet(s"$baseDir/${t.cfg.name}.parquet")))
    var round = 0
    def stageRound(k: Int): TableStore = {
      r.rmrf(s"${r.root}/source-${k - 1}")
      val d = r.dir(s"source-$k")
      tables.foreach(t => sourceAt(r, baseDir, t, k).write.parquet(s"$d/${t.cfg.name}.parquet"))
      round = k
      new ParquetStore(r.spark, d)
    }
    // set-up is the initial full copy into an empty destination
    val dstDir = r.setUp(2) { d =>
      syncAll(new ParquetStore(r.spark, baseDir), new ParquetStore(r.spark, s"$d/dst"))
      s"$d/dst"
    }
    // warm-up, timed as set-up: round 1 runs the incremental path for the
    // first time in this process (JIT, codegen); passes are rounds 2, 3, ..
    r.once(syncAll(stageRound(1), new ParquetStore(r.spark, dstDir)))
    val dst = store(r, dstDir)
    r.loopStaged(pass => stageRound(pass + 1))((pass, src) => runRound(src, dst, pass))

    val plain = new ParquetStore(r.spark, dstDir)
    if (r.plant) {
      val li = plain.read("lineitem").get
      plain.write(li.exceptAll(li.limit(1)), "lineitem")
    }
    r.sameRows(tables.map(t => (s"sync.${t.cfg.name}", plain.read(t.cfg.name).get, sourceAt(r, baseDir, t, round))))
  }

  // ----------------------------------------------------- shared stream loop

  /** Drains the files just staged (one parquet file each, `stagedRows`
    * rows apiece, in order) with the Trigger.AvailableNow query `start`
    * makes, one file per micro-batch. Each batch becomes one operation,
    * timed by its triggerExecution. */
  private def drain(r: Run, pass: Int, stagedRows: Seq[Long], stateRows: => Long)(start: => StreamingQuery): Unit = {
    val t0 = Trace.now()
    val q = Trace.span("stream.start", "stream")(start)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    // a drain that threw or left files undrained fails at least one batch
    val missing = stagedRows.size - progress.length
    if (q.exception.nonEmpty || missing != 0) {
      r.failed += math.max(1, math.abs(missing))
      System.err.println(s"[perfbench] pass $pass: ${progress.length} batches for ${stagedRows.size} files" +
        q.exception.fold("")(e => s"; stream failed: $e"))
    }
    val first = progress.headOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
    progress.zip(stagedRows).foreach { case (p, staged) =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1e3 }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val s = d.getOrElse("triggerExecution", 0.0)
      r.ops += Op("stream", s"batch-${p.batchId}", pass, Trace.on, s, staged,
        d.map { case (k, v) => s"phase.$k" -> v } ++ Map(
          "input_rows" -> p.numInputRows.toDouble,
          "start_s" -> (if (first.contains(start)) (start - t0) / 1e3 else -1.0)))
    }
    r.unpersistAll()
    if (Trace.on) r.info("state_rows") =
      r.info.getOrElse("state_rows", Seq.empty[Long]).asInstanceOf[Seq[Long]] :+ stateRows
  }

  // ------------------------------------------------------------- stream_scd2

  val Scd2Sf = 0.02
  val PullsPerPass = 3

  private def streamScd2(r: Run): Unit = {
    val g = r.gen
    val n = g.rows(Scd2Sf, 150000)
    val valueCols = Seq("o_orderstatus", "o_totalprice", "o_orderpriority")
    val key = col("o_orderkey")
    // each key is deleted once, at pull 1 + u(key) of 1..1000 (about 0.1%
    // of keys per pull); before that it is updated in ~1% of pulls, each
    // update adding the pull number to its price so the value changes
    val delPull = g.u("scd2.del", 1000, key) + 1
    def updatedAt(v: Int): Column = g.u("scd2.upd", 100, key, lit(v)) === 0 && lit(v) < delPull
    def snapshotRows: DataFrame = g.orders(1, n + 1, n).select(key +: valueCols.map(col): _*)
    def pull(v: Int): DataFrame = {
      val rows =
        if (v == 0) snapshotRows.withColumn("op", lit("u"))
        else snapshotRows.filter(updatedAt(v) || delPull === v)
          .withColumn("op", when(delPull === v, "d").otherwise("u"))
          .withColumn("o_totalprice", col("o_totalprice") + v)
      rows.withColumn("ver", lit(v + 1L))
    }
    def expected(pulls: Int): DataFrame = {
      val last = (1 to pulls).foldLeft(lit(0)) { (acc, v) => when(updatedAt(v), lit(v)).otherwise(acc) }
      snapshotRows.filter(delPull > pulls).withColumn("o_totalprice", col("o_totalprice") + last)
    }
    val schema = pull(0).schema

    final case class State(stage: String, ckpt: String, histDir: String, var pulls: Int, var closing: Long)
    def drainPulls(st: State, s: TableStore, pass: Int, count: Int): Unit = {
      val staged = (1 to count).map { _ =>
        val v = st.pulls
        val rows = r.writeFile(pull(v), f"${st.stage}/pull_$v%06d.parquet")
        if (v > 0) st.closing += rows
        st.pulls += 1
        rows
      }
      drain(r, pass, staged, s.read("orders_history").get.count()) {
        IncrementalStream.scd2Ingest(
          r.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(st.stage),
          s, "orders_history", Seq("o_orderkey"), valueCols, "ver", st.ckpt, opCol = Some("op"))
      }
    }
    val st = r.setUp(2) { d =>
      val st = State(s"$d/stage", s"$d/ckpt", s"$d/store", 0, 0L)
      new java.io.File(st.stage).mkdirs()
      drainPulls(st, new ParquetStore(r.spark, st.histDir), 0, 1)
      r.ops.clear()
      st
    }
    // warm-up, timed as set-up: the first CDC pull runs the history merge
    // for the first time in this process (the snapshot only seeds it)
    r.once(drainPulls(st, new ParquetStore(r.spark, st.histDir), 0, 1))
    r.ops.clear()
    val s = store(r, st.histDir)
    r.loop(pass => drainPulls(st, s, pass, PullsPerPass))

    val hist = new ParquetStore(r.spark, st.histDir).read("orders_history").get
    // planted fault: every row of one key that has both an open and a closed row
    val h = if (!r.plant) hist else {
      val open = hist.filter(col("valid_to").isNull).select(key)
      val k = hist.filter(col("valid_to").isNotNull).join(open, "o_orderkey").agg(min(key)).head.getLong(0)
      hist.filter(key =!= k)
    }
    r.sameRows(Seq(("scd2.open_slice",
      h.filter(col("valid_to").isNull).select(key +: valueCols.map(col): _*), expected(st.pulls - 1))))
    r.check("scd2.closed_rows") {
      val closed = h.filter(col("valid_to").isNotNull).count()
      (closed == st.closing, s"closed=$closed updates+deletes=${st.closing}")
    }
  }

  // ----------------------------------------------------------- stream_append

  /** Documents per staged file: 60 to 100, drawn from the seed. */
  private def docsInFile(seed: Long, f: Int): Int =
    60 + Math.floorMod(scala.util.hashing.MurmurHash3.productHash((seed, f, "docs")), 41)

  val FilesPerPass = 6

  private def streamAppend(r: Run): Unit = {
    final case class State(stage: String, ckpt: String, storeDir: String, var files: Int, var docs: Long)
    val schema = r.gen.documents(0, 1, lineEvery = 10).schema
    def drainFiles(st: State, s: TableStore, pass: Int, count: Int): Unit = {
      val staged = (1 to count).map { _ =>
        val n = docsInFile(r.gen.seed, st.files)
        r.writeFile(r.gen.documents(st.docs, st.docs + n, lineEvery = 10),
          f"${st.stage}/docs_${st.files}%06d.parquet")
        st.files += 1
        st.docs += n
        n.toLong
      }
      drain(r, pass, staged, s.read("line_index").get.count()) {
        IncrementalStream.lineIndexIngest(
          r.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(st.stage),
          "doc_id", "text", s, "line_index", st.ckpt)
      }
    }
    val st = r.setUp(2) { d =>
      val st = State(s"$d/stage", s"$d/ckpt", s"$d/store", 0, 0L)
      new java.io.File(st.stage).mkdirs()
      drainFiles(st, new ParquetStore(r.spark, st.storeDir), 0, 2)
      r.ops.clear()
      st
    }
    val s = store(r, st.storeDir)
    r.loop(pass => drainFiles(st, s, pass, FilesPerPass))

    val idx = new ParquetStore(r.spark, st.storeDir).read("line_index").get.drop("__run", "__batch")
    val got = if (r.plant) idx.unionByName(idx.limit(1)) else idx
    r.sameRows(Seq(("append.index", got,
      graft.dedup.Dedup.lineIndexRows(r.spark.read.parquet(st.stage), "doc_id", "text"))))
    r.check("append.unique_keys") {
      val dups = got.groupBy("doc_id", "pos").count().filter(col("count") > 1).count()
      (dups == 0, s"duplicate (doc_id, pos) keys: $dups")
    }
  }

  // ---------------------------------------------------------- curation_batch

  val CurationSf = 0.01

  /** curation_batch's queries, from `graft.SparkEntry.queries`; each pass
    * runs them in an order drawn from the seed. */
  val Mix: Seq[String] = Seq("q21_dedup_minhash", "q171_gopher_rules", "q239_main_content",
    "q17_token_stats", "q29_running_sum", "q68_star_revenue")

  /** The mix reads documents, events, orders, customer and nation. */
  private def curationBatch(r: Run): Unit = {
    val g = r.gen
    val sf = CurationSf
    val order = new scala.util.Random(g.seed).shuffle(Mix)
    val queries = graft.SparkEntry.queries
    def noop(q: String, dataDir: String): Unit =
      queries(q)(r.spark, dataDir).write.format("noop").mode("overwrite").save()
    val cold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val nCust = g.rows(sf, 15000)
    val inputs = Seq(
      ("documents", g.rows(sf, 5000), () => g.documents(0, g.rows(sf, 5000))),
      ("events", g.rows(sf, 100000), () => g.events(0, g.rows(sf, 100000))),
      ("orders", g.rows(sf, 150000), () => g.orders(1, g.rows(sf, 150000) + 1, nCust)),
      ("customer", nCust, () => g.customer(1, nCust + 1)),
      ("nation", 25L, () => g.nation))
    r.info("input_rows") = inputs.map { case (t, n, _) => t -> n }.toMap
    val dataDir = r.dir("data")
    // one file per table, the layout graft's readers and the oracle expect
    r.once(inputs.foreach { case (t, _, df) => r.writeFile(df(), s"$dataDir/$t.parquet") })
    // set-up is the cold pass: each query's first run, in the mix order, to
    // the noop sink like the warm passes
    r.setUp(1) { _ =>
      order.foreach { q =>
        val t0 = System.nanoTime()
        noop(q, dataDir)
        cold(q) = (System.nanoTime() - t0) / 1e9
        r.unpersistAll()
      }
    }
    // the first query after the cold pass pays for its clean-up (shuffle
    // and broadcast files, garbage); a set-up run of the cheapest query
    // takes that cost instead of whichever query the seed puts first
    r.once(noop("q17_token_stats", dataDir))
    r.loop { pass =>
      order.foreach(q => r.op("curation", q, pass)(noop(q, dataDir))(_ => 0L))
    }

    // the results the DuckDB oracle compare reads after this process ends
    val out = r.dir("results")
    order.foreach { q =>
      val df = queries(q)(r.spark, dataDir)
      // planted fault: the first query's result loses its last row
      val res = if (r.plant && q == order.head) df.limit(math.max(0, df.count().toInt - 1)) else df
      res.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      r.unpersistAll()
    }
    r.info("cold_s") = cold.toMap
    r.info("data_dir") = dataDir
    r.info("oracle_sql") = graft.SparkEntry.oracleSql.filter { case (k, _) => Mix.contains(k) }
    r.info("results_dir") = out
  }
}
