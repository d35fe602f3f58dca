package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** One timed operation: a table sync, a micro-batch or a query. */
final case class Op(kind: String, name: String, pass: Int, traced: Boolean,
                    seconds: Double, rows: Long, extra: Map[String, Double] = Map.empty)

/** A correctness check's outcome. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What one benchmark process records: the samples the report is computed
  * from. Every workload fills the same fields. */
final class Run(val spark: SparkSession, val gen: Gen, val root: String,
                val seconds: Double, val traced: Boolean, val plant: Boolean) {
  val ops = ArrayBuffer.empty[Op]
  /** (pass number, traced, wall seconds) of every completed pass. */
  val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
  val setupReps = ArrayBuffer.empty[Double]
  /** Seconds of set-up done once per process: input generation, warm-up. */
  var onceS = 0.0
  val checks = ArrayBuffer.empty[Check]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Operations that threw or did not complete; failed checks are in
    * [[checks]]. */
  var failed = 0L
  private val listeners = new Listeners(spark)

  def dir(name: String): String = {
    val d = new java.io.File(root, name)
    d.mkdirs()
    d.getPath
  }

  def rmrf(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Drops blocks an operation persisted, so the next one starts clean. */
  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Times one operation; a throw counts as a failed operation. */
  def op[T](kind: String, name: String, pass: Int)(body: => T)(rows: T => Long): Option[T] = {
    val n0 = System.nanoTime()
    val r = try Some(Trace.span(s"$kind.$name", kind)(body)) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        failed += 1
        None
    }
    val s = (System.nanoTime() - n0) / 1e9
    r.foreach(v => ops += Op(kind, name, pass, Trace.on, s, rows(v)))
    unpersistAll()
    r
  }

  /** Set-up work done once per process (generating the inputs every
    * set-up reads, warming up after the last set-up); timed as set-up. */
  def once[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally onceS += (System.nanoTime() - t0) / 1e9
  }

  /** Runs `setup` `reps` times, each in a fresh directory, and keeps the
    * state of the last one. Set-up time is reported as the median. */
  def setUp[S](reps: Int)(setup: String => S): S = {
    var state: Option[S] = None
    for (i <- 1 to reps) {
      val d = dir(s"setup-$i")
      val t0 = System.nanoTime()
      val s = setup(d)
      setupReps += (System.nanoTime() - t0) / 1e9
      unpersistAll()
      if (i < reps) rmrf(d)
      state = Some(s)
    }
    state.get
  }

  /** Closed loop: passes run back to back until `seconds` have gone by,
    * and at least one completes. In a traced process every second pass is
    * traced and at least three run: the untraced passes after the first
    * give the tracing overhead. */
  def loop(pass: Int => Unit): Unit = loopStaged(_ => ())((i, _) => pass(i))

  /** [[loop]], with `stage` preparing each pass's inputs outside the pass's
    * timing and tracing. */
  def loopStaged[S](stage: Int => S)(pass: (Int, S) => Unit): Unit = {
    // set-up's garbage is collected here, not inside the first operation
    System.gc()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val minPasses = if (traced) 3 else 1
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      i += 1
      val input = stage(i)
      val tracedPass = traced && i % 2 == 0
      if (tracedPass) { listeners.register(); Trace.on = true }
      val t0 = System.nanoTime()
      pass(i, input)
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracedPass) { listeners.unregister(); Trace.on = false }
      passes += ((i, tracedPass, wall))
    }
  }

  def check(name: String)(ok: => (Boolean, String)): Unit = {
    val (good, detail) = try ok catch { case e: Exception => (false, e.toString) }
    checks += Check(name, good, detail)
  }

  /** Checks each (name, got, want): both directions of EXCEPT ALL and the
    * row counts, every pair in one Spark action. */
  def sameRows(pairs: Seq[(String, DataFrame, DataFrame)]): Unit = {
    import org.apache.spark.sql.functions.lit
    val counts = try {
      pairs.flatMap { case (name, got, want) =>
        val g = got.select(want.columns.map(got.col): _*)
        Seq(g.exceptAll(want) -> "extra", want.exceptAll(g) -> "missing", g -> "got", want -> "want")
          .map { case (df, tag) => df.select(lit(name).as("check"), lit(tag).as("tag")) }
      }.reduce(_ union _).groupBy("check", "tag").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    } catch { case e: Exception => pairs.foreach(p => check(p._1)((false, e.toString))); return }
    pairs.foreach { case (name, _, _) =>
      def c(tag: String) = counts.getOrElse((name, tag), 0L)
      check(name)((c("extra") == 0 && c("missing") == 0 && c("got") == c("want"),
        s"rows got=${c("got")} want=${c("want")} extra=${c("extra")} missing=${c("missing")}"))
    }
  }

  /** Writes `df` as the single parquet file `dst` (a staged input file). */
  def writeFile(df: DataFrame, dst: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    val tmp = s"$root/stage-tmp"
    df.observe(obs, org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    if (!fs.rename(part, new org.apache.hadoop.fs.Path(dst))) sys.error(s"stage rename failed: $dst")
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    obs.get("n").asInstanceOf[Long]
  }
}
