package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The harness's own checks, run by `perfbench/tests`:
  *
  *  - the generators are deterministic in the seed;
  *  - the id function the generator uses equals the one Spark computes;
  *  - the tail percentile keeps ten samples beyond it;
  *  - `StreamingQueryProgress.numInputRows` counts Scd2Stream's
  *    `foreachBatch` input once per action on it — twice for an upsert
  *    feed, three times for a CDC feed with `opCol` — which is why every
  *    row count the benchmark reports comes from the generator.
  *
  * Usage: `perfbench.SelfTest <work dir>`; prints `selftest ok` or exits 1. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) failures += what

    // generators: same seed, same bytes; another seed, other bytes
    def lake(seed: Long, name: String): Array[Byte] = {
      val f = new File(work, s"$name.ndjson")
      Gen.writeLakeClass(seed, "BC0", 500, 8, f)
      java.nio.file.Files.readAllBytes(f.toPath)
    }
    val a = lake(7, "a"); val b = lake(7, "b"); val c = lake(8, "c")
    expect(java.util.Arrays.equals(a, b), "same seed gave different lake files")
    expect(!java.util.Arrays.equals(a, c), "different seeds gave the same lake file")
    def cdc(seed: Long) = {
      val m = new Gen.CdcModel(1000)
      val r = Gen.rng(seed, "cdc")
      Gen.cdcSnapshot(r, m) ++ Gen.cdcFile(r, m, 5000)
    }
    expect(cdc(3) == cdc(3), "same seed gave different change files")
    val ev = cdc(3).drop(1000)
    val share = ev.count(_.getString(4) == "d").toDouble / ev.size
    expect(share > 0.01 && share < 0.03, s"delete share $share is not about 2%")

    expect(Util.tail((1 to 10).map(_.toDouble)).isEmpty, "a tail from 10 samples")
    expect(Util.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)),
      s"tail of 1..20 is ${Util.tail((1 to 20).map(_.toDouble))}, not p50 = 10")

    val spark = Main.session(Main.Args("selftest", 0L, 1, trace = false, work,
      new File(work, "out.json"), 2))
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val offset = 5L << 32
      val fromSpark = spark.range(0, 50).select(Gen.idCol(offset, col("id")))
        .collect().map(_.getString(0)).toSeq
      expect(fromSpark == (0L until 50L).map(Gen.idOf(offset, _)),
        "generator ids differ from Spark's")

      // numInputRows against the rows the generator landed: the fold reads
      // its foreachBatch input once per action on it
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.add(e.progress.numInputRows)
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val m = new Gen.CdcModel(2000)
      val r = Gen.rng(1, "cdc")
      val rows = Gen.cdcSnapshot(r, m) ++ Gen.cdcFile(r, m, 3000)
      Gen.landParquet(spark, rows, Gen.CdcSchema, s"$work/landing", "f0", s"$work/tmp")
      expect(m.landedRows == rows.size, s"model counted ${m.landedRows}, landed ${rows.size}")
      import scala.jdk.CollectionConverters._
      def counted(name: String, opCol: Option[String]): Long = {
        progress.clear()
        graft.streaming.Scd2Stream.runAvailableNow(spark, s"$work/landing", Gen.CdcSchema,
          Seq("key"), "ts", Seq("attr1", "attr2"), Seq("event_id"), s"$work/state_$name",
          s"$work/ckpt_$name", nBuckets = 4, opCol = opCol, maxFilesPerTrigger = Some(1))
        org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
        progress.asScala.sum
      }
      val upserts = counted("upserts", None)
      val cdc = counted("cdc", Some("op"))
      spark.streams.removeListener(listener)
      expect(upserts == 2L * rows.size,
        s"numInputRows reported $upserts for ${rows.size} landed rows, upsert feed (expected 2x)")
      expect(cdc == 3L * rows.size,
        s"numInputRows reported $cdc for ${rows.size} landed rows, CDC feed (expected 3x)")
    } finally spark.stop()

    println("layers " + Json.render(Main.LayerNames))
    if (failures.isEmpty) println("selftest ok")
    else {
      failures.foreach(f => println(s"selftest FAIL $f"))
      sys.exit(1)
    }
  }
}
