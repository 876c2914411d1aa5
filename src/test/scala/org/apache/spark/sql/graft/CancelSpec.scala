package org.apache.spark.sql.graft

import org.apache.spark.TaskContext

import graft.SparkSpec
import graft.sources.{LocalParquetEndpoint, QuerySpec}

/** Mid-stream cancellation (reference cancel_monitor.cpp analogue): a
  * task whose interrupt flag is set stops consuming the split within
  * one check window instead of finishing it. Lives in the shim package
  * because installing a TaskContext on the current thread is
  * private[spark]. */
class CancelSpec extends SparkSpec {

  /** Minimal TaskContext whose interrupt flag the test controls. */
  private class FlagContext extends StubTaskContext {
    @volatile var interrupted = false
    override def isInterrupted(): Boolean = interrupted
  }

  test("a set interrupt flag aborts the scan mid-split and closes the reader") {
    spark // force session init
    val endpoint = new LocalParquetEndpoint(sf("sf0.01"))
    val query = QuerySpec("lineitem", Array("l_orderkey"), Array.empty)
    val split = endpoint.plan("lineitem", query, Long.MaxValue / 4).head
    assert(split.rowCount > LocalParquetEndpoint.CancelCheckRows * 4L,
      "split must span several check windows for the test to mean anything")

    val ctx = new FlagContext
    TaskContext.setTaskContext(ctx)
    try {
      val stream = endpoint.read(split, query, None)
      try {
        assert(stream.hasNext, "stream yields at least one row")
        stream.next()
        ctx.interrupted = true
        var drained = 0
        val n = intercept[org.apache.spark.TaskKilledException] {
          // the reader checks the flag between its batches of
          // CancelCheckRows rows, so draining more rows than one batch
          // holds crosses a check
          while (drained <= LocalParquetEndpoint.CancelCheckRows) {
            stream.next(); drained += 1
          }
        }
        assert(n.getMessage == null || n.reason.contains("cancelled"))
        assert(drained < LocalParquetEndpoint.CancelCheckRows,
          s"the kill must land within one check window, drained $drained rows")
      } finally stream.close()
    } finally TaskContext.unset()
  }

  test("no TaskContext (driver-side read) scans to completion") {
    TaskContext.unset()
    val endpoint = new LocalParquetEndpoint(sf("sf0.001"))
    val query = QuerySpec("nation", Array("n_nationkey"), Array.empty)
    val split = endpoint.plan("nation", query, Long.MaxValue / 4).head
    val stream = endpoint.read(split, query, None)
    try assert(stream.size.toLong === split.rowCount)
    finally stream.close()
  }
}
