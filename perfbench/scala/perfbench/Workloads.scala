package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{EngineConfig, IngestPipeline, PipelineRunner, TableConfig}
import graft.schema.SchemaRegistry
import graft.sinks.Sinks
import graft.streaming.{IncrementalIngest, Scd2Stream}

/** Full loads of one subject area: six business classes of drifting NDJSON,
  * one three times the size of the others. */
final class DriftFullLoad(spark: SparkSession, seed: Long) extends Workload {
  val BaseRows = 3000
  val Classes = 6
  private var dir: File = _
  private var lake: Seq[Gen.LakeClass] = Nil
  private val reports = mutable.Map.empty[Int, Seq[PipelineRunner.JobReport]]
  private var discovered = 0
  private var gateRows = Map.empty[String, Long]

  private val specs: Seq[(String, Int, Int)] = {
    val r = Gen.rng(seed, "drift/classes")
    (0 until Classes).map(c =>
      (s"BC$c", if (c == 0) 3 * BaseRows else BaseRows, 6 + r.nextInt(7)))
  }
  private val config = EngineConfig(
    specs.map { case (bc, _, _) =>
      s"cfg_$bc" -> TableConfig(bc, s"${bc.toLowerCase}_dl", "erp", incremental = false,
        keyColumn = Some(Gen.KeyName))
    }.toMap,
    Map("erp" -> specs.map(s => s"cfg_${s._1}")))

  private def lakeDir = new File(dir, "lake")
  private def outDir(u: Int) = new File(dir, s"out/u$u")

  def setup(d: File): Unit = {
    dir = d
    lake = specs.map { case (bc, rows, v) =>
      Gen.writeLakeClass(seed, bc, rows, v, new File(lakeDir, s"$bc.ndjson"))
    }
  }

  // a full load re-reads the same extract every unit
  def land(u: Int): Unit = ()

  def run(u: Int): Unit =
    reports(u) = Trace.span("PipelineRunner.runSubjectArea")(
      PipelineRunner.runSubjectArea(spark, config, "erp", lakeDir.getPath,
        s"${outDir(u)}/bronze", s"${outDir(u)}/silver"))

  def check(u: Int): Seq[String] = reports(u).flatMap { r =>
    val g = lake.find(_.name == r.businessClass).get
    val silver = s"${outDir(u)}/silver/${r.businessClass.toLowerCase}"
    val bronzeVersions = Option(new File(s"${outDir(u)}/bronze/${r.businessClass.toLowerCase}_dl")
      .listFiles()).toSeq.flatten.count(_.getName.startsWith("schema_version="))
    if (!r.success) Seq(s"${r.businessClass}: ${r.error.getOrElse("failed")}")
    else {
      val silverRows = spark.read.parquet(silver).count()
      Seq(
        (r.rows != g.rows) -> s"${r.businessClass}: loaded ${r.rows} rows, generated ${g.rows}",
        (silverRows != g.rows) -> s"${r.businessClass}: silver has $silverRows rows, generated ${g.rows}",
        (r.schemaVersions != g.versions) ->
          s"${r.businessClass}: ${r.schemaVersions} versions, generated ${g.versions}",
        (bronzeVersions != g.versions) ->
          s"${r.businessClass}: bronze holds $bronzeVersions versions, generated ${g.versions}"
      ).collect { case (true, msg) => msg }
    }
  }

  override def cleanup(u: Int): Unit = Util.deleteRecursively(outDir(u))

  def rowsLanded(u: Int): Option[Long] = Some(lake.map(_.rows.toLong).sum)
  def bytesLanded(u: Int): Long = lake.map(_.bytes).sum
  def outputRoots: Seq[File] = Seq(new File(dir, "out"))

  override def probes(oracleOut: File): Unit = {
    val probeDir = new File(dir, "probe")
    lake.foreach { g =>
      val raw = spark.read.text(new File(lakeDir, s"${g.name}.ndjson").getPath)
        .withColumnRenamed("value", "rec")
      val ks = Trace.span("SchemaRegistry.discoverKeysets")(
        SchemaRegistry.discoverKeysets(raw, "rec"))
      require(ks.size == g.versions,
        s"${g.name}: discovered ${ks.size} versions, generated ${g.versions}")
      discovered += ks.size
      Trace.span("IngestPipeline.ingest")(
        IngestPipeline.ingest(spark, raw, "rec").silver
          .write.format("noop").mode("overwrite").save())
    }
    // the sinks on a checkpointed ingest result of the largest class
    val big = lake.maxBy(_.rows)
    val raw = spark.read.text(new File(lakeDir, s"${big.name}.ndjson").getPath)
      .withColumnRenamed("value", "rec")
    val data = IngestPipeline.ingest(spark, raw, "rec").silver.localCheckpoint()
    Trace.span("Sinks.writeVersioned")(
      Sinks.writeVersioned(data, s"$probeDir/bronze"))
    Trace.span("Sinks.writeMerged")(
      Sinks.writeMerged(data.drop("schema_version"), s"$probeDir/silver"))
    Util.deleteRecursively(probeDir)
    gateRows = new GateProbe(spark, seed, new File(dir, "gate")).run(oracleOut)
  }

  // the gate probe is the only caller of these
  override def probeModules: Set[String] = Set("functions", "queries")

  override def layerMetrics(units: Seq[Int], snap: Probes.Snapshot,
                            probeSnap: Probes.Snapshot): Map[String, Double] = {
    val durations = units.flatMap(reports.get).flatten.map(_.durationSec)
    Map(
      "schema.discover_s" -> Trace.perUnit("SchemaRegistry.discoverKeysets", 1),
      "schema.versions" -> discovered.toDouble,
      "jobs.ingest_parse_s" -> Trace.perUnit("IngestPipeline.ingest", 1),
      "jobs.subject_area_s" -> Trace.perUnit("PipelineRunner.runSubjectArea", units.size),
      "jobs.class_p50_s" -> Util.median(durations),
      "jobs.class_max_s" -> (if (durations.isEmpty) 0.0 else durations.max),
      "sinks.versioned_write_s" -> Trace.perUnit("Sinks.writeVersioned", 1),
      "sinks.merged_write_s" -> Trace.perUnit("Sinks.writeMerged", 1)) ++
      GateProbe.Queries.map(q => s"queries.${q}_s" -> Trace.perUnit(s"Bench.timeQuery($q)", 1))
  }

  def generatorRecord: Map[String, Any] = Map(
    "lake_mb" -> lake.map(_.bytes).sum / 1048576.0,
    "rows" -> lake.map(_.rows).sum,
    "classes" -> lake.map(g => Map("class" -> g.name, "rows" -> g.rows,
      "versions" -> g.versions, "mb" -> g.bytes / 1048576.0)),
    "columns_per_record" -> "20-30",
    "gate_tables" -> gateRows)
}

/** Days of an incremental subject-area run against a standing key history,
  * each followed by a MERGE of the day's staged rows into a date-partitioned
  * warehouse table. A layer probe of the cdc_stream traced run: day 0 warms
  * the incremental path and the MERGE, day 1 is measured, and each day's
  * output is checked against the generator's model. */
final class IncrementalMergeProbe(spark: SparkSession, seed: Long) {
  val HistoryKeys = 1000000L
  val WarehouseRows = 100000L
  val PerDay = 6000
  val Redelivered: Int = PerDay / 2
  val Bc = "LEDGER"
  private val offset = seed << 32
  private val keyCol = Gen.KeyName
  private var dir: File = _
  private val table = "warehouse"
  private var historyMb = 0.0

  private val config = EngineConfig(
    Map("ledger" -> TableConfig(Bc, "ledger_dl", "fin", incremental = true,
      keyColumn = Some(keyCol))),
    Map("fin" -> Seq("ledger")))

  // the generator's model of the warehouse and the silver table
  private var whCount = 0L
  private var whChecksum = 0L
  private var silverRows = 0L
  private var versions = 0
  private val updated = mutable.Map.empty[Long, Row]
  private final case class Day(newKeys: Int, expectCount: Long, expectChecksum: Long,
                               expectVersions: Int, redeliveredIds: Seq[String],
                               before: Map[String, Set[String]])
  private val days = mutable.Map.empty[Int, Day]
  private val reports = mutable.Map.empty[Int, Seq[PipelineRunner.JobReport]]
  private val rewritten = mutable.Map.empty[Int, Int]
  private val stagedBytes = mutable.Map.empty[Int, Long]

  private def lakeDir = new File(dir, "lake")
  private def silver = s"$dir/silver"
  private def history = s"$silver/_keyhistory/ledger"
  private def stagingDir(u: Int) = s"$dir/staging/day$u"
  private def tableDir = {
    val w = spark.conf.get("spark.sql.warehouse.dir")
    new File(if (w.startsWith("file:")) new java.net.URI(w).getPath else w, table)
  }
  // no name with a control character: SchemaRegistry.save writes those
  // unescaped, and the registry this probe persists between days could
  // not be read back (a known engine defect)
  private val fillers =
    Gen.ErpNames.filterNot(n => n == "Status" || n.exists(_ < ' ')).take(20)

  /** Span unit id of probe day `u`. */
  private def spanUnit(u: Int): Long = -10L - u

  /** Build the standing state under `d`, run and check both days, then the
    * anti-join alone; returns the failed checks. */
  def run(d: File): Seq[String] = {
    setup(d)
    val bad = (0 to 1).flatMap { u =>
      land(u)
      Trace.unit = spanUnit(u)
      runDay(u)
      check(u)
    }
    notExtracted()
    bad
  }

  private def setup(d: File): Unit = {
    dir = d
    spark.range(HistoryKeys).select(Gen.idCol(offset, col("id")).as(keyCol))
      .write.mode("overwrite").parquet(history)
    // above spark.sql.autoBroadcastJoinThreshold, so the anti-join shuffles
    historyMb = Util.bytesUnder(new File(history)) / 1048576.0
    // silver predates this run: keys that are in the history but never
    // redelivered (indices past the warehouse)
    spark.range(WarehouseRows, WarehouseRows + 1000)
      .select(Gen.idCol(offset, col("id")).as(keyCol))
      .write.mode("overwrite").parquet(s"$silver/ledger")
    val initial = Gen.initialWarehouseRows(spark.range(WarehouseRows).toDF("i"), offset)
    initial.write.format("parquet").partitionBy("part_date").saveAsTable(table)
    // the first day's check compares the table with this model
    val (c, cs) = Gen.checksum(initial)
    whCount = c; whChecksum = cs; silverRows = 1000L; versions = 0
    updated.clear()
  }

  private def partitionFiles(): Map[String, Set[String]] =
    Option(tableDir.listFiles()).toSeq.flatten.filter(_.isDirectory).map { p =>
      p.getName -> Util.dataFiles(p).map(_.getName).toSet
    }.toMap

  private def land(u: Int): Unit = {
    val day = u + 1
    val r = Gen.rng(seed, s"incremental/day$day")
    // updates hit the three most recent partitions, new keys today's
    val recent = (0L until WarehouseRows).filter(i => i % Gen.WarehousePartitions >= 27)
    val redelivered = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle(recent).take(Redelivered)
    val fresh = (0 until PerDay - Redelivered).map(j =>
      HistoryKeys + (day - 1).toLong * (PerDay - Redelivered) + j)
    val newVersion = day % 4 == 2
    val today = Gen.WarehouseBase.plusDays(Gen.WarehousePartitions + day)
    val staged = (redelivered.map(i => (i, Gen.WarehouseBase.plusDays(i % Gen.WarehousePartitions))) ++
      fresh.map(i => (i, today))).map { case (i, date) =>
      Row(Gen.idOf(offset, i), r.nextLong(100000L), Gen.Statuses(r.nextInt(5)), day,
        java.sql.Date.valueOf(date))
    }
    lakeDir.mkdirs()
    val file = new File(lakeDir, s"$Bc.ndjson")
    val w = new java.io.PrintWriter(file, "UTF-8")
    try staged.foreach { row =>
      // two standing versions; on a new-version day 5% of the records of
      // the first carry one more column
      val flagged = newVersion && r.nextInt(20) == 0
      val cols = if (flagged || r.nextBoolean()) fillers.take(18)
        else fillers.take(16) ++ fillers.drop(18)
      val sb = new StringBuilder(512)
      sb.append(s"""{"$keyCol":"${row.getString(0)}","Part.Date":"${row.get(4)}",""")
        .append(s""""Amount":${row.getLong(1)},"Status":"${row.getString(2)}"""")
      cols.foreach(c => sb.append(',').append(Gen.jsonStr(c)).append(":\"")
        .append(r.nextInt(1000)).append('"'))
      if (flagged) sb.append(s""","Audit.Flag$day":"y"""")
      sb.append('}')
      w.println(sb.toString)
    } finally w.close()
    spark.createDataFrame(java.util.Arrays.asList(staged: _*), Gen.WarehouseSchema)
      .coalesce(1).write.mode("overwrite").parquet(stagingDir(u))
    stagedBytes(u) = Util.bytesUnder(new File(stagingDir(u)))

    // the model after this day
    val prevUpdated = redelivered.filter(updated.contains)
    val firstTime = redelivered.filterNot(updated.contains)
    val oldFirst = Gen.checksum(Gen.initialWarehouseRows(
      spark.createDataFrame(java.util.Arrays.asList(firstTime.map(i => Row(i)): _*),
        org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
          "i", org.apache.spark.sql.types.LongType)))), offset))._2
    val oldAgain = Gen.checksum(spark.createDataFrame(
      java.util.Arrays.asList(prevUpdated.map(updated): _*), Gen.WarehouseSchema))._2
    val (_, newSum) = Gen.checksum(spark.read.parquet(stagingDir(u)))
    redelivered.zip(staged).foreach { case (i, row) => updated(i) = row }
    val v = (if (versions == 0) 2 else versions) + (if (newVersion) 1 else 0)
    days(u) = Day(fresh.size, whCount + fresh.size,
      whChecksum - oldFirst - oldAgain + newSum, v,
      staged.take(Redelivered).map(_.getString(0)), partitionFiles())
  }

  private def runDay(u: Int): Unit = {
    reports(u) = Trace.span("PipelineRunner.runSubjectArea")(
      PipelineRunner.runSubjectArea(spark, config, "fin", lakeDir.getPath,
        s"$dir/bronze", silver, Some(s"$dir/registry")))
    spark.read.parquet(stagingDir(u)).createOrReplaceTempView("staged")
    Trace.span("MERGE INTO")(spark.sql(
      s"""MERGE INTO $table USING staged ON $table.id = staged.id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
  }

  private def check(u: Int): Seq[String] = {
    val d = days(u)
    val r = reports(u).head
    val after = partitionFiles()
    rewritten(u) = (after.keySet ++ d.before.keySet).count(p => after.get(p) != d.before.get(p))
    val s = spark.read.parquet(s"$silver/ledger").select(keyCol)
    val counts = s.agg(count(lit(1)), countDistinct(col(keyCol))).head()
    val (sRows, sKeys) = (counts.getLong(0), counts.getLong(1))
    import spark.implicits._
    val reappended = s.join(d.redeliveredIds.toDF(keyCol), keyCol).count()
    spark.catalog.refreshTable(table)
    val (c, cs) = Gen.checksum(spark.table(table))
    val out = Seq(
      !r.success -> s"day $u: ${r.error.getOrElse("failed")}",
      (r.rows != d.newKeys) -> s"day $u: loaded ${r.rows} rows, ${d.newKeys} keys are new",
      (r.schemaVersions != d.expectVersions) ->
        s"day $u: ${r.schemaVersions} schema versions, generated ${d.expectVersions}",
      (sRows != silverRows + d.newKeys) ->
        s"day $u: silver has $sRows rows, expected ${silverRows + d.newKeys}",
      (sKeys != sRows) -> s"day $u: silver holds ${sRows - sKeys} duplicate keys",
      (reappended != 0) -> s"day $u: $reappended redelivered keys appended to silver",
      (c != d.expectCount) -> s"day $u: warehouse has $c rows, model ${d.expectCount}",
      (cs != d.expectChecksum) -> s"day $u: warehouse checksum $cs, model ${d.expectChecksum}"
    ).collect { case (true, m) => m }
    // later days build on this one whether or not it passed
    silverRows = sRows; whCount = c; whChecksum = cs; versions = r.schemaVersions
    out
  }

  /** The key-history anti-join alone, on the last day's extract. */
  private def notExtracted(): Unit = {
    val raw = spark.read.text(new File(lakeDir, s"$Bc.ndjson").getPath)
      .withColumnRenamed("value", "rec")
    val res = IngestPipeline.ingest(spark, raw, "rec")
    Trace.span("Incremental.notExtracted")(
      graft.operators.Incremental.notExtracted(res.silver, spark.read.parquet(history), keyCol)
        .write.format("noop").mode("overwrite").save())
  }

  /** The measured day's layers; `snap` covers the probe pass. */
  def layerMetrics(snap: Probes.Snapshot): Map[String, Double] = {
    // MERGE output over both days' staged input
    val mergeOut = snap.modules.get("plans").map(_.outputBytes).getOrElse(0L)
    Map(
      "operators.not_extracted_s" -> Trace.perUnit("Incremental.notExtracted", 1),
      "plans.merge_s" -> Trace.inUnit("MERGE INTO", spanUnit(1)),
      "plans.write_amp" -> mergeOut.toDouble / stagedBytes.values.sum,
      "plans.partitions_rewritten" -> rewritten(1).toDouble)
  }

  def generatorRecord: Map[String, Any] = Map(
    "history_keys" -> HistoryKeys, "history_mb" -> historyMb,
    "warehouse_rows" -> WarehouseRows,
    "warehouse_partitions" -> Gen.WarehousePartitions,
    "records_per_day" -> PerDay, "redelivery_share" -> Redelivered.toDouble / PerDay,
    "new_version_days" -> "day % 4 == 2, on 5% of that day's records",
    "updated_partitions_per_day" -> 3, "measured_day" -> 1)
}

/** Change-event files drained by the streaming SCD2 fold and the
  * checkpointed incremental ingest, one micro-batch per file. */
final class CdcStream(spark: SparkSession, seed: Long) extends Workload {
  val Keys = 8000
  val FilesPerCycle = 2
  val RowsPerCycle = 6000
  val Buckets = 8
  private var dir: File = _
  private var model: Gen.CdcModel = _
  private var r: java.util.SplittableRandom = _
  private var files = 0
  private final case class Cycle(rows: Long, bytes: Long, landedMs: Seq[Long])
  private val cycles = mutable.Map.empty[Int, Cycle]
  private val batches = mutable.Map.empty[Int, Long]
  private val freshness = mutable.ArrayBuffer.empty[Double]
  private val incremental = new IncrementalMergeProbe(spark, seed)

  private def src = s"$dir/landing"
  private def state = s"$dir/scd2"
  private def ckScd2 = s"$dir/ckpt_scd2"
  private def sink = s"$dir/sink"
  private def hist = s"$dir/ingest_history"
  private def ckIngest = s"$dir/ckpt_ingest"

  private def drainScd2(): Long =
    Trace.span("Scd2Stream.runAvailableNow")(
      Scd2Stream.runAvailableNow(spark, src, Gen.CdcSchema, Seq("key"), "ts",
        Seq("attr1", "attr2"), Seq("event_id"), state, ckScd2, nBuckets = Buckets,
        opCol = Some("op"), maxFilesPerTrigger = Some(1)))

  def setup(d: File): Unit = {
    dir = d
    model = new Gen.CdcModel(Keys)
    r = Gen.rng(seed, "cdc")
    files = 0
    // the bootstrap snapshot; nothing drains it here, so no engine path is
    // warm before the first (cold) cycle, which folds it into the empty
    // SCD2 history and the empty ingest sink along with its own files
    Gen.landParquet(spark, Gen.cdcSnapshot(r, model), Gen.CdcSchema, src, "f00000",
      s"$dir/tmp")
    files += 1
  }

  def land(u: Int): Unit = {
    // a fixed number of rows per cycle, split unevenly over its files
    val cuts = (0 until FilesPerCycle - 1).map(_ =>
      RowsPerCycle / (2 * FilesPerCycle) + r.nextInt(RowsPerCycle / FilesPerCycle)).sorted
    val sizes = (cuts :+ RowsPerCycle).zip(0 +: cuts).map { case (hi, lo) => hi - lo }
    val landed = sizes.map { n =>
      val rows = Gen.cdcFile(r, model, n)
      val t = Gen.landParquet(spark, rows, Gen.CdcSchema, src, f"f$files%05d", s"$dir/tmp")
      files += 1
      (rows.size.toLong, new File(src, f"f${files - 1}%05d.parquet").length(), t)
    }
    cycles(u) = Cycle(landed.map(_._1).sum, landed.map(_._2).sum, landed.map(_._3))
  }

  def run(u: Int): Unit = {
    batches(u) = drainScd2()
    Trace.span("IncrementalIngest.runAvailableNow")(
      IncrementalIngest.runAvailableNow(spark, src, Gen.CdcSchema, "event_id", sink,
        hist, ckIngest))
    // compaction after every drain keeps the units alike, which the median
    // of a few units needs (compacting every third cycle made one unit in
    // three a second slower)
    Trace.span("Scd2Stream.compact")(Scd2Stream.compact(spark, state))
    Trace.span("IncrementalIngest.compact") {
      IncrementalIngest.compact(spark, sink)
      IncrementalIngest.compact(spark, hist)
    }
  }

  def check(u: Int): Seq[String] = {
    import spark.implicits._
    val c = cycles(u)
    val commits = Option(new File(s"$ckScd2/commits").listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong).takeRight(FilesPerCycle)
    if (u > 0) freshness ++= commits.map(_.lastModified()).zip(c.landedMs)
      .map { case (commit, landed) => (commit - landed) / 1e3 }
    val h = Scd2Stream.currentHistory(spark, state)
    val cur = h.filter(col("is_current")).select("key")
    val curCounts = cur.agg(count(lit(1)), countDistinct(col("key"))).head()
    val (curRows, curKeys) = (curCounts.getLong(0), curCounts.getLong(1))
    val live = model.live.toSeq.map(_.toLong).toDF("key")
    val notLive = cur.join(live, Seq("key"), "left_anti").count()
    val deleted = (model.everDeleted &~ model.live).toSeq.map(_.toLong).toDF("key")
    val closed = h.filter(!col("is_current")).select("key").distinct()
      .join(deleted, "key").count()
    val sinkCounts = spark.read.parquet(sink)
      .agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val (sinkRows, sinkIds) = (sinkCounts.getLong(0), sinkCounts.getLong(1))
    val drained = FilesPerCycle + (if (u == 0) 1 else 0)
    Seq(
      (batches(u) != drained) -> s"cycle $u: ${batches(u)} micro-batches for $drained files",
      (curRows != curKeys) -> s"cycle $u: ${curRows - curKeys} keys with two open versions",
      (curKeys != model.live.size || notLive != 0) ->
        s"cycle $u: $curKeys open keys ($notLive not live), model ${model.live.size}",
      (closed != model.everDeleted.size - (model.everDeleted & model.live).size) ->
        s"cycle $u: $closed deleted keys closed in history",
      (sinkRows != model.landedRows || sinkIds != model.landedRows) ->
        s"cycle $u: sink has $sinkRows rows / $sinkIds ids, landed ${model.landedRows}"
    ).collect { case (true, m) => m }
  }

  // each landed event is folded into the SCD2 history and appended to the sink
  def rowsLanded(u: Int): Option[Long] = cycles.get(u).map(_.rows * 2)
  def bytesLanded(u: Int): Long = cycles.get(u).map(_.bytes).getOrElse(0L)
  def outputRoots: Seq[File] =
    Seq(state, sink, hist, ckScd2, ckIngest).map(new File(_))

  // the incremental-merge probe is the only caller of these
  override def probeModules: Set[String] = Set("operators", "plans")

  override def layerMetrics(units: Seq[Int], snap: Probes.Snapshot,
                            probeSnap: Probes.Snapshot): Map[String, Double] = Map(
    "streaming.scd2_drain_s" -> Trace.perUnit("Scd2Stream.runAvailableNow", units.size),
    "streaming.ingest_drain_s" -> Trace.perUnit("IncrementalIngest.runAvailableNow", units.size),
    "streaming.compact_s" -> (Trace.perUnit("Scd2Stream.compact", units.size) +
      Trace.perUnit("IncrementalIngest.compact", units.size)),
    "streaming.state_mb" -> Util.bytesUnder(new File(state)) / 1048576.0,
    "streaming.state_files" -> Util.dataFiles(new File(state)).size.toDouble) ++
    incremental.layerMetrics(probeSnap)

  override def probes(oracleOut: File): Unit = {
    val bad = incremental.run(new File(dir, "incremental"))
    if (bad.nonEmpty) throw new IllegalStateException(bad.mkString("; "))
  }

  override def extraEndToEnd: Map[String, Map[String, Any]] = {
    val base = Map("freshness_p50_s" -> Map[String, Any](
      "value" -> Util.median(freshness.toSeq), "unit" -> "s",
      "samples" -> freshness.size))
    base ++ Util.tail(freshness.toSeq).map { case (p, v) =>
      "freshness_tail_s" -> Map[String, Any]("value" -> v, "unit" -> "s",
        "percentile" -> p, "samples" -> freshness.size)
    }
  }

  def generatorRecord: Map[String, Any] = Map(
    "keys" -> Keys, "files_per_cycle" -> FilesPerCycle,
    "rows_per_cycle" -> RowsPerCycle, "landed_rows" -> model.landedRows,
    "hot_key_share" -> model.hotRows.toDouble / math.max(1L, model.landedRows - Keys),
    "hot_keys" -> Keys / 100,
    "delete_share" -> model.deletes.toDouble / math.max(1L, model.landedRows - Keys),
    "compact_every_cycles" -> 1, "scd2_buckets" -> Buckets,
    "incremental_merge_probe" -> incremental.generatorRecord)
}

/** Gate queries through `graft.Bench.timeQuery` (noop sink, cleared cache),
  * on tables generated from the seed: one cold pass, one traced warm pass,
  * and one pass written out for the DuckDB oracle comparison. A layer probe
  * of the drift_full_load traced run: the only caller of `functions/`, the
  * graph operators and the sketch and hash expressions. */
final class GateProbe(spark: SparkSession, seed: Long, dir: File) {
  def tables: String = s"$dir/tables"

  def run(oracleOut: File): Map[String, Long] = {
    val rows = Gen.gateTables(spark, seed, tables)
    def pass(span: String => String): Unit = GateProbe.Queries.foreach { q =>
      val (_, err) = Trace.span(span(q))(
        graft.Bench.timeQuery(spark, tables, graft.SparkEntry.queries(q)))
      err.foreach(e => throw new IllegalStateException(s"$q: $e"))
    }
    pass(q => s"Bench.timeQuery($q) cold")
    pass(q => s"Bench.timeQuery($q)")
    GateProbe.Queries.foreach { q =>
      spark.catalog.clearCache()
      graft.SparkEntry.queries(q)(spark, tables).write.mode("overwrite")
        .parquet(new File(oracleOut, q).getPath)
    }
    java.nio.file.Files.writeString(new File(oracleOut, "oracle_sql.json").toPath,
      Json.render(GateProbe.Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    java.nio.file.Files.writeString(new File(oracleOut, "tables.txt").toPath, tables)
    rows
  }
}

object GateProbe {
  /** One query of each group of the gate suite the engine's other
    * workloads do not reach. */
  val Queries: Seq[String] = Seq(
    "q214_triangles",                     // graph
    "q27_minhash_neardup", "q28_simhash", // dedup kernels
    "q36_ingest_pipeline",                // ETL
    "q01_pricing_summary")                // anchor
}
