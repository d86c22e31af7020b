package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.queries.Streaming

/** The drain runner's cleanup guarantee on the failure path: a query
  * whose first micro-batch fails must propagate the
  * StreamingQueryException and still leave nothing behind — no active
  * query, no memory-sink temp view, no checkpoint or sink directory —
  * for the memory sink and for the parquet file sink. */
class StreamingDrainSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val SF = "/root/testdata/sf0.01"

  private def failedDrainLeavesNothing(inventoryName: String,
      sink: Streaming.Sink): Unit = {
    var child: SparkSession = null
    val e = intercept[StreamingQueryException] {
      Streaming.drain(spark, SF, inventoryName, "append", sink = sink) { src =>
        child = src.sparkSession
        src.select(col("event_id"), raise_error(lit("boom")).cast("string").as("boom"))
      }(identity)
    }
    assert(e.getMessage.contains("boom"), e.getMessage)
    assert(child != null && (child ne spark), "the drain must run on a child session")

    val views = child.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(inventoryName))
    assert(views.isEmpty, s"temp views left: ${views.mkString(", ")}")

    // checkpoint `graft_ck_<name>` and sink dir `graft_ck_<name>_out`
    // both live next to the prefix the runner derives from the name
    val prefix = new java.io.File(Streaming.scopedCheckpoint(inventoryName))
    val left = Option(prefix.getParentFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(prefix.getName))
    assert(left.isEmpty, s"directories left: ${left.mkString(", ")}")

    assert(child.streams.active.isEmpty && spark.streams.active.isEmpty,
      "a failed drain left its query running")
    assert(Streaming.progressTrail.containsKey(inventoryName),
      "a failed drain must still file its trail")
  }

  test("failed memory-sink drain: exception propagates, nothing left behind") {
    failedDrainLeavesNothing("drain_fail_memory", Streaming.Sink.Memory)
  }

  test("failed file-sink drain: exception propagates, nothing left behind") {
    failedDrainLeavesNothing("drain_fail_files", Streaming.Sink.Files)
  }
}
