package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger

/** The query harness helpers in SparkEntry: `scratch` always removes its
  * directory and returns a frame that outlives it; `fileStream` drains one
  * file per micro-batch; `memorySink` leaves no sink table behind. */
class ScratchHarnessSpec extends SparkSpec {

  test("scratch deletes its directory when the body throws") {
    var dir: String = null
    intercept[IllegalStateException] {
      SparkEntry.scratch("scratchspec") { tmp =>
        dir = tmp
        spark.range(3).write.parquet(s"$tmp/t")
        throw new IllegalStateException("body failed")
      }
    }
    assert(dir != null && !Files.exists(Paths.get(dir)))
  }

  test("the frame scratch returns collects after its directory is gone") {
    var dir: String = null
    val df = SparkEntry.scratch("scratchspec") { tmp =>
      dir = tmp
      spark.range(5).write.parquet(s"$tmp/t")
      spark.read.parquet(s"$tmp/t")
    }
    assert(!Files.exists(Paths.get(dir)))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))
  }

  test("scratch returns a result the body already pinned without pinning it again") {
    val pinned = spark.range(3).toDF().localCheckpoint()
    assert(SparkEntry.scratch("scratchspec")(_ => pinned) eq pinned)
  }

  test("a 2-file stream runs exactly 2 micro-batches") {
    SparkEntry.scratch("scratchspec") { tmp =>
      val q = SparkEntry.fileStream(spark, s"$tmp/src", spark.range(10).toDF("id").repartition(2))
        .writeStream.format("noop").option("checkpointLocation", s"$tmp/ck")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.recentProgress.map(_.batchId).toSeq === Seq(0L, 1L))
      assert(q.recentProgress.map(_.numInputRows).sum === 10L)
      spark.range(1).toDF()
    }
  }

  test("memorySink returns the drained rows and drops its sink table") {
    SparkEntry.scratch("scratchspec") { tmp =>
      val stream = SparkEntry.fileStream(spark, s"$tmp/src", spark.range(4).toDF("id").repartition(2))
      val out = SparkEntry.memorySink(spark, stream)(_.orderBy("id"))
      assert(out.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
      assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("sink_")))
      out
    }
  }
}
