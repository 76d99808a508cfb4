package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Per-key task-metric probe for the optimization rounds' §5 evidence
  * (spill / shuffle volume at scale): runs each requested declared key
  * once with a listener accumulating executor task metrics, and prints
  * one JSON line per key with wall seconds, memory/disk spill bytes,
  * shuffle read/write bytes and records, and peak execution memory.
  *
  * Usage: runMain graft.SpillProbe <sfDir> key[,key,...]
  *
  * Measurement-only tooling: it never touches Bench's timing loop or
  * artifacts, and it computes every key from the parquet inputs exactly
  * as Bench does (same session config, same stage warmup discipline is
  * NOT applied — wall seconds here are diagnostic, the spill/shuffle
  * counters are the signal). */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    sys.props("graft.fixtures.sf") = sfDir
    val keys = args(1).split(",").toSeq
    val spark = Session.local()

    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val shufRead = new AtomicLong; val shufWrite = new AtomicLong
    val shufReadRec = new AtomicLong; val shufWriteRec = new AtomicLong
    val peakMem = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufReadRec.addAndGet(m.shuffleReadMetrics.recordsRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufWriteRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          peakMem.getAndAccumulate(m.peakExecutionMemory, math.max)
        }
      }
    })
    def snap(): Seq[Long] = Seq(memSpill.get, diskSpill.get, shufRead.get,
      shufWrite.get, shufReadRec.get, shufWriteRec.get)

    keys.foreach { k =>
      SparkEntry.queries.get(k) match {
        case Some(fn) =>
          val before = snap(); peakMem.set(0L)
          val t0 = System.nanoTime()
          // the same full-output consume Bench times
          val ok = try { Bench.consume(fn(spark, sfDir)); true }
                   catch { case e: Throwable =>
                     System.err.println(s"[spill] $k FAILED: ${e.getMessage}")
                     false }
          val sec = (System.nanoTime() - t0) / 1e9
          // listener events drain asynchronously: wait until every task
          // end is delivered, so none lands in the next key's deltas
          org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
          val d = snap().zip(before).map { case (a, b) => a - b }
          println(f"""{"key":"$k","ok":$ok,"sec":$sec%.3f,"mem_spill":${d(0)},"disk_spill":${d(1)},"shuffle_read_b":${d(2)},"shuffle_write_b":${d(3)},"shuffle_read_rec":${d(4)},"shuffle_write_rec":${d(5)},"peak_exec_mem":${peakMem.get}}""")
        case None => System.err.println(s"[spill] unknown key: $k")
      }
    }
    spark.stop()
  }
}
