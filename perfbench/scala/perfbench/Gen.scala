package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input of every workload comes from here;
  * the same seed gives byte-identical inputs. Row counts used by the checks
  * and by `rows_per_s` are the generators' own, never a Spark counter. */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^
      (stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL))

  // ------------------------------------------------------------ JSON lake

  /** ERP-style source names. Dots, brackets and a newline need cleansing;
    * `Sales.Order` and `Sales_Order` collide once cleansed. */
  val ErpNames: Seq[String] = Seq(
    "Company", "Sales.Order", "Sales_Order", "Line[Number]", "Item.Code",
    "Item\nDescription", "Unit.Price", "Qty", "Amount.Net", "Amount.Tax",
    "Currency", "Posting.Date", "Due.Date", "Customer.Id", "Customer.Name",
    "Vendor.Id", "Region", "Status", "Channel", "Warehouse", "Bin", "Lot",
    "Serial", "Project", "Cost.Center", "GL.Account", "Ref.Doc", "Created.By",
    "Updated.By", "Created.At", "Updated.At", "Notes", "Flag[Hold]", "Uuid",
    "Priority", "Batch.No")
  val KeyName = "DataObjectId"
  private val Words = Seq("open", "closed", "hold", "north", "south", "east",
    "west", "alpha", "beta", "gamma", "N/A", "blocked", "posted", "draft")

  def jsonStr(s: String): String = "\"" + Json.esc(s) + "\""

  private def value(r: SplittableRandom, name: String): String =
    (name.hashCode & 7) match {
      case 0 | 1 => (r.nextInt(100000)).toString
      case 2 => f"${r.nextInt(1000000) / 100.0}%.2f"
      case 3 => jsonStr(LocalDate.of(2020, 1, 1).plusDays(r.nextInt(1500)).toString)
      case 4 => jsonStr(f"${r.nextLong()}%016x".take(12))
      case _ => jsonStr(Words(r.nextInt(Words.size)))
    }

  final case class LakeClass(name: String, rows: Int, versions: Int, bytes: Long)

  /** Lay out one business class: `versions` distinct keysets of 20-30
    * columns each (the key plus 19-29 ERP names), then `rows` records. */
  def keysets(seed: Long, cls: String, versions: Int): Seq[Seq[String]] = {
    val r = rng(seed, s"keysets/$cls")
    val out = mutable.LinkedHashSet.empty[Seq[String]]
    while (out.size < versions) {
      val width = 19 + r.nextInt(11)
      val pick = scala.util.Random.javaRandomToRandom(
        new java.util.Random(r.nextLong())).shuffle(ErpNames).take(width)
      out += (KeyName +: pick.sorted)
    }
    out.toSeq
  }

  /** Write `rows` NDJSON records of one class to `file`; keys are unique
    * within the class (`<cls>-<n>`). */
  def writeLakeClass(seed: Long, cls: String, rows: Int, versions: Int,
                     file: File): LakeClass = {
    val ks = keysets(seed, cls, versions)
    val r = rng(seed, s"rows/$cls")
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      var i = 0
      while (i < rows) {
        val k = ks(if (i < versions) i else r.nextInt(versions))
        val sb = new StringBuilder(640)
        sb.append("{\"").append(KeyName).append("\":\"").append(cls).append('-')
          .append(i).append('"')
        k.tail.foreach { n =>
          sb.append(',').append(jsonStr(n)).append(':').append(value(r, n))
        }
        sb.append("}\n")
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
    LakeClass(cls, rows, versions, file.length())
  }

  // ------------------------------------------------ key history, warehouse

  /** Source id of the `i`-th key of a seed; Spark computes the same string
    * with [[idCol]]. */
  def idOf(offset: Long, i: Long): String =
    f"K${XXH64.hashLong(i + offset, 42L)}%016X"

  def idCol(offset: Long, idx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("K"), lpad(hex(xxhash64(idx + lit(offset))), 16, "0"))

  val WarehouseBase: LocalDate = LocalDate.of(2024, 1, 1)
  val WarehousePartitions = 30

  val WarehouseSchema: StructType = StructType(Seq(
    StructField("id", StringType), StructField("amount_cents", LongType),
    StructField("status", StringType), StructField("updated_day", IntegerType),
    StructField("part_date", DateType)))
  val Statuses: Seq[String] = Seq("open", "posted", "paid", "hold", "void")

  /** The initial warehouse row of each index in `idx` (column `i`). */
  def initialWarehouseRows(idx: DataFrame, offset: Long): DataFrame =
    idx.select(
      idCol(offset, col("i")).as("id"),
      pmod(xxhash64(col("i"), lit(offset), lit(1)), lit(100000L)).as("amount_cents"),
      element_at(array(Statuses.map(lit): _*),
        (pmod(xxhash64(col("i"), lit(offset), lit(2)), lit(5L)) + 1).cast("int"))
        .as("status"),
      lit(0).as("updated_day"),
      date_add(lit(java.sql.Date.valueOf(WarehouseBase)),
        (col("i") % WarehousePartitions).cast("int")).as("part_date"))

  /** Order-insensitive checksum of warehouse-shaped rows. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)), coalesce(sum(pmod(xxhash64(
      col("id"), col("amount_cents"), col("status"), col("updated_day"),
      col("part_date")), lit(1000000007L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  // ------------------------------------------------------------- CDC feed

  val CdcSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("ts", TimestampType),
    StructField("attr1", StringType), StructField("attr2", IntegerType),
    StructField("op", StringType), StructField("event_id", LongType)))

  /** Key-level model of a CDC feed: which keys are live and which were
    * deleted, after every event landed so far. */
  final class CdcModel(val keys: Int) {
    val live: mutable.BitSet = mutable.BitSet.empty
    val everDeleted: mutable.BitSet = mutable.BitSet.empty
    var nextEvent: Long = 0L
    var landedRows: Long = 0L
    var deletes: Long = 0L
    var hotRows: Long = 0L
  }

  private val CdcEpochMs = Timestamp.valueOf(LocalDateTime.of(2024, 1, 1, 0, 0)).getTime

  /** One change file: `rows` events over the model's key universe, 20% of
    * them on a hot 1% of keys, about 2% deletes of live keys. A key deleted
    * in a file gets no later event in that file. */
  def cdcFile(r: SplittableRandom, m: CdcModel, rows: Int,
              deleteShare: Double = 0.02): Seq[Row] = {
    val hot = math.max(1, m.keys / 100)
    val deletedHere = mutable.BitSet.empty
    val out = new mutable.ArrayBuffer[Row](rows)
    while (out.size < rows) {
      val isHot = r.nextDouble() < 0.2
      val k = if (isHot) r.nextInt(hot) else r.nextInt(m.keys)
      if (!deletedHere.contains(k)) {
        val e = m.nextEvent
        m.nextEvent += 1
        val ts = new Timestamp(CdcEpochMs + e * 10L)
        val del = m.live.contains(k) && r.nextDouble() < deleteShare
        if (isHot) m.hotRows += 1
        if (del) {
          deletedHere += k
          m.live -= k
          m.everDeleted += k
          m.deletes += 1
          out += Row(k.toLong, ts, null, null, "d", e)
        } else {
          m.live += k
          out += Row(k.toLong, ts, Words(r.nextInt(Words.size)),
            r.nextInt(1000), "u", e)
        }
      }
    }
    m.landedRows += rows
    out.toSeq
  }

  /** The initial snapshot: one upsert for every key. */
  def cdcSnapshot(r: SplittableRandom, m: CdcModel): Seq[Row] = {
    val rows = (0 until m.keys).map { k =>
      val e = m.nextEvent
      m.nextEvent += 1
      m.live += k
      Row(k.toLong, new Timestamp(CdcEpochMs + e * 10L),
        Words(r.nextInt(Words.size)), r.nextInt(1000), "u", e)
    }
    m.landedRows += rows.size
    rows
  }

  /** Land rows as ONE parquet file in `dir` (written aside, then renamed
    * in), returning the wall-clock millisecond it became visible. */
  def landParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
                  dir: String, name: String, staging: String): Long = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = new File(dir, s"$name.parquet")
    target.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Util.deleteRecursively(new File(staging))
    System.currentTimeMillis()
  }

  // ------------------------------------------------- gate query tables

  /** The ten gate tables in the shape of the engine's test data at
    * sf0.001 (same columns, parquet types and value domains). */
  def gateTables(spark: SparkSession, seed: Long, dir: String): Map[String, Long] = {
    val r = rng(seed, "gate")
    def save(name: String, schema: StructType, rows: Seq[Row]): (String, Long) = {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      name -> rows.size.toLong
    }
    def f(name: String, t: DataType) = StructField(name, t)
    def money(lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDate, span: Int) =
      from.plusDays(r.nextInt(span)).atStartOfDay()
    val nCust = 150; val nSupp = 10; val nPart = 200; val nOrd = 1500
    val nLine = 6000; val nEvents = 1000; val nUsers = 15; val nDocs = 500
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val adjs = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
      "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
      "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
      "table", "the", "value", "vector", "window")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val texts = new mutable.ArrayBuffer[String]()
    Seq(
      save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        regions.indices.map(i => Row(i, regions(i)))),
      save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
        (0 until 25).map(i => Row(i, s"NATION_$i", r.nextInt(5)))),
      save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(-999.99, 9999.99), segs(r.nextInt(5))))),
      save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(-999.99, 9999.99)))),
      save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until nPart).map(i => Row(i.toLong,
          s"${adjs(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
          types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + r.nextInt(1000) / 10.0))),
      save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          Seq("F", "O", "P")(r.nextInt(3)), money(1000, 500000),
          day(LocalDate.of(1995, 1, 1), 2404), prios(r.nextInt(5))))),
      save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          day(LocalDate.of(1995, 1, 2), 2499)))),
      save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), {
        val start = LocalDateTime.of(2024, 1, 1, 0, 0)
        val spanMicros = 30L * 86400L * 1000000L
        val offs = Array.fill(nEvents)(r.nextLong(spanMicros)).sorted
        (0 until nEvents).map(i => Row(i.toLong,
          start.plusNanos(offs(i) * 1000L), r.nextInt(nUsers).toLong,
          evTypes(r.nextInt(5)), money(0.01, 490), s"""{"k": ${r.nextInt(100)}}"""))
      }),
      save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        (0 until nDocs).map { i =>
          // about one document in 200 repeats an earlier text exactly
          val text =
            if (texts.nonEmpty && r.nextInt(200) == 0) texts(r.nextInt(texts.size))
            else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
          texts += text
          Row(i.toLong, text, Seq("de", "en", "es", "fr", "zh")(r.nextInt(5)),
            s"src${r.nextInt(20)}", text.length.toLong)
        }),
      save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        (0 until nDocs).map { i =>
          val v = Array.fill(64)(r.nextGaussian())
          val n = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
        })
    ).toMap
  }
}
