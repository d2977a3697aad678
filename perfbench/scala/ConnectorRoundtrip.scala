package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.Graft
import graft.interop.ArrowInterop

/** The connector's two paths at volume: a seeded mixed-type table is
  * written (catalog table, flat stage, hive-partitioned stage, a MERGE
  * through `Graft.sql` persisted with `Graft.write`) and read back (graft
  * format in count and size mode, a pruned `Graft.read`, a QUALIFY query
  * through `Graft.sql`, an Arrow export/import). Each read is checked by
  * row count and an order-independent content hash against the frame that
  * was written, or row by row against the same query in plain DataFrame
  * operations. */
final class ConnectorRoundtrip(plan: JsonNode) extends Workload {

  private val rows = plan.get("rows").asLong
  private val genSeed = plan.get("gen_seed").asLong
  // the seed-drawn bindings every cycle uses
  private val bind = plan.get("cycle")
  private val npartitions = bind.get("npartitions").asInt
  private val partitionSize = bind.get("partition_size").asText
  private val parts = bind.get("parts").elements.asScala.map(_.asInt).toSeq
  private val xLo = bind.get("x_lo").asDouble
  private val mergeResidue = bind.get("merge_residue").asInt
  private val qualifyK = 3
  /** Rows with `x` in (xLo, xLo + 500000]: half of the table. */
  private def inBand: Column = col("x") > xLo && col("x") <= xLo + 500000.0

  private val prunedCols = Seq("id", "x", "amount", "name", "part")
  private var src: DataFrame = _
  private var schema: StructType = _
  private var sourceBytes = 1L

  private def h(i: Int): Column = xxhash64(lit(genSeed), lit(i), col("id"))

  /** Input generation: the table, cached. */
  def prepare(b: Bench): Unit = {
    val gen = b.spark.range(0L, rows, 1L, b.cores * 2).select(
      col("id"),
      h(1).as("k"),
      (pmod(h(2), lit(1000000000L)) / 1000.0).as("x"),
      (pmod(h(3), lit(1000000000000L)).cast(DecimalType(38, 6)) / lit(1000000))
        .cast(DecimalType(38, 6)).as("amount"),
      concat_ws("-", lit("name"), pmod(h(4), lit(100000L)).cast("string"), hex(h(5))).as("name"),
      timestamp_micros(lit(1700000000000000L) + pmod(h(6), lit(30000000000000L))).as("ts"),
      transform(sequence(lit(1), lit(8)), i =>
        (pmod(xxhash64(lit(genSeed), i, col("id")), lit(2000L)) / 1000.0 - 1.0).cast("float")).as("vec"),
      struct(pmod(h(7), lit(1000L)).cast("int").as("a"), hex(h(8)).as("b")).as("meta"),
      pmod(h(9), lit(8L)).cast("int").as("part"))
    src = gen.persist()
    src.count()
    schema = src.schema
    sourceBytes = src.queryExecution.optimizedPlan.stats.sizeInBytes.toLong.max(1L)
    expected.clear()
  }

  /** Expected answers, computed from the cached source on first use (in
    * an untimed check). */
  private val expected = scala.collection.mutable.Map.empty[String, Any]

  private def want[A](op: String)(compute: => A): A =
    expected.getOrElseUpdate(op, compute).asInstanceOf[A]

  private def fullDigest: Row = want("full")(digest(src, schema.fieldNames.toSeq))

  private def prunedDigest: Row = want("pruned")(digest(
    src.filter(col("part").isin(parts: _*) && inBand), prunedCols))

  /** MERGE ≡ the untouched rows plus the whole batch. */
  private def mergedDigest: Row = want("merged")(digest(
    src.filter(col("id") % 10 =!= mergeResidue).unionByName(batch), schema.fieldNames.toSeq))

  private def qualifiedRows: Seq[Seq[Any]] = want("qualified") {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("part")
      .orderBy(col("amount").desc, col("id"))
    Check.rows(src.select(col("part"), col("id"),
        when(inBand, "in").otherwise("out").as("band"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= qualifyK).collect())
  }

  /** The MERGE source: a tenth of the rows updated, as many new rows. */
  private def batch: DataFrame = {
    val hit = src.filter(col("id") % 10 === mergeResidue)
    hit.withColumn("amount", (col("amount") + lit(1)).cast(DecimalType(38, 6)))
      .unionByName(hit.withColumn("id", col("id") + rows))
  }

  /** (rows, sum of hash mod p, xor of hash) over `cols`; a column read
    * back as another type (a partition column) is cast to the written one. */
  private def digest(df: DataFrame, cols: Seq[String]): Row = {
    val hc = xxhash64(cols.map { c =>
      val want = schema(c).dataType
      if (df.schema(c).dataType.simpleString == want.simpleString) col(c) else col(c).cast(want)
    }: _*)
    df.select(hc.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
  }

  private def same(got: Row, want: Row): Option[String] =
    if (got == want) None else Some(s"digest $got, expected $want")

  /** A small stage written and read back, so the session has run both paths. */
  def warmup(b: Bench): Unit = {
    val d = dir(b, "warmup")
    Graft.writeStage(src.limit(1000), d, overwrite = true)
    b.spark.read.format("graft").load(d).count()
  }

  /** One untimed cycle; then the size-mode probe: the partition count the
    * connector's sizing picks for a join of two of the cycle's tables at
    * the default 100 MiB target (planning only). */
  def prime(b: Bench): Unit = {
    cycle(b, record = false)
    b.ledgers.clear()
    val join = b.spark.sql("SELECT a.part, count(*) AS n FROM roundtrip_hive a " +
      "JOIN roundtrip_target t ON a.id = t.id GROUP BY a.part")
    b.probes("size_mode_partitions.join") = graft.connector.Read.partitionsForBytes(join,
      graft.connector.Partitioner.parseBytes("100MiB")).toDouble
  }

  override def layerMetrics(b: Bench): Map[String, Double] = Map(
    "connector.size_mode_join_partitions" -> b.probes("size_mode_partitions.join"))

  def round(b: Bench): Unit = cycle(b, record = true)

  private def dir(b: Bench, name: String) = s"${b.work}/roundtrip/$name"

  private def cycle(b: Bench, record: Boolean): Unit = {
    val spark = b.spark
    def op(name: String, kind: String)(body: => Outcome): Unit =
      if (record) b.op(name, kind)(body) else body.check().foreach(e => sys.error(s"$name: $e"))
    val flat = dir(b, "flat")
    val hive = dir(b, "hive")
    val table = "BENCH_ROUNDTRIP"

    op("write_stage_flat", "write") {
      b.time("connector.write_call")(Graft.writeStage(src, flat, overwrite = true))
      written(b, flat)
    }
    op("read_npartitions", "read") {
      val df = spark.read.format("graft").option("npartitions", npartitions.toLong).load(flat)
      val got = b.time("sources.scan")(digest(df, schema.fieldNames.toSeq))
      scanned(b, df, flat, Bench.dirBytes(Paths.get(flat)) / npartitions, got, fullDigest)
    }
    op("write_table", "write") {
      b.time("connector.write_call")(Graft.write(src, table, overwrite = true))
      written(b, tableDir(b, table))
    }
    op("read_partition_size", "read") {
      val loc = tableDir(b, table)
      val df = spark.read.format("graft").option("partition_size", partitionSize).load(loc)
      val got = b.time("sources.scan")(digest(df, schema.fieldNames.toSeq))
      scanned(b, df, loc, graft.connector.Partitioner.parseBytes(partitionSize), got,
        fullDigest)
    }
    op("write_stage_hive", "write") {
      b.time("connector.write_call")(
        Graft.writeStage(src, hive, overwrite = true, partitionBy = Seq("part")))
      written(b, hive)
    }
    op("read_pruned", "read") {
      spark.read.format("graft").load(hive).createOrReplaceTempView("roundtrip_hive")
      val q = "SELECT id, x, amount, name, part FROM roundtrip_hive " +
        s"WHERE part IN (${parts.indices.map(j => s":p$j").mkString(", ")}) " +
        "AND x > :lo AND x <= :lo + 500000.0"
      val params: Map[String, Any] =
        parts.zipWithIndex.map { case (p, j) => s"p$j" -> p }.toMap + ("lo" -> xLo)
      val df = b.time("connector.read_call") {
        Graft.read(spark, b.wh, q, params, partitionSize = Some(partitionSize))
      }
      val got = b.time("sources.scan")(digest(df, prunedCols))
      val bytes = parts.map(p => Bench.dirBytes(Paths.get(s"$hive/part=$p"))).sum
      Outcome(() => {
        if (b.tracer.enabled && got.getLong(0) > 0)
          b.sample("sources.rows_scanned_per_row_returned",
            b.ledgers.last.inputRecords.toDouble / got.getLong(0))
        same(got, prunedDigest)
      }, bytesRead = bytes)
    }
    op("sql_qualify", "read") {
      val text = s"SELECT part, id, IFF(x > $xLo AND x <= $xLo + 500000.0, 'in', 'out') AS band, " +
        "row_number() OVER (PARTITION BY part ORDER BY amount DESC, id) AS rn " +
        s"FROM roundtrip_hive QUALIFY rn <= ${qualifyK}"
      if (b.tracer.enabled) b.time("sql.rewrite")(graft.SqlDialect.rewrite(text))
      val df = b.time("sql.text_call")(Graft.sql(spark, text))
      val got = b.time("action")(df.collect())
      Outcome(() => Check.rowsMatch(Check.rows(got), qualifiedRows),
        bytesRead = Bench.dirBytes(Paths.get(hive)))
    }
    op("sql_merge", "write") {
      spark.read.format("graft").load(flat).createOrReplaceTempView("roundtrip_target")
      batch.createOrReplaceTempView("roundtrip_batch")
      val text = "MERGE INTO roundtrip_target AS t USING roundtrip_batch AS s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      if (b.tracer.enabled) b.time("sql.rewrite")(graft.SqlDialect.rewrite(text))
      val df = b.time("sql.text_call")(Graft.sql(spark, text))
      b.time("connector.write_call")(Graft.write(df, "BENCH_MERGED", overwrite = true))
      val out = written(b, tableDir(b, "BENCH_MERGED"))
      out.copy(check = () => out.check().orElse(same(
        digest(spark.table("BENCH_MERGED"), schema.fieldNames.toSeq), mergedDigest)))
    }
    op("arrow_roundtrip", "read") {
      val df = spark.read.format("graft").load(flat)
      val got = b.time("interop.arrow") {
        val batches = ArrowInterop.toArrowBatches(df)
        digest(ArrowInterop.fromArrowBatches(batches, df.schema), schema.fieldNames.toSeq)
      }
      Outcome(() => same(got, fullDigest), bytesRead = Bench.dirBytes(Paths.get(flat)))
    }
  }

  private def tableDir(b: Bench, table: String): String =
    b.spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).location.getPath

  /** A write's outcome: files present; the next read checks the content. */
  private def written(b: Bench, path: String): Outcome = {
    val p = Paths.get(path)
    val bytes = Bench.dirBytes(p)
    Outcome(() => {
      b.sample("connector.files_written", Bench.dataFiles(p).toDouble)
      b.sample("connector.bytes_per_source_byte", bytes.toDouble / sourceBytes)
      if (Bench.dataFiles(p) > 0) None else Some(s"no data files under $path")
    }, bytesWritten = bytes)
  }

  /** A full read's outcome; traced, it also samples the scan's partition
    * count and how full its tasks were against the partition target. */
  private def scanned(b: Bench, df: DataFrame, path: String, targetBytes: Long,
      got: Row, want: Row): Outcome =
    Outcome(() => {
      if (b.tracer.enabled) {
        b.sample("sources.input_partitions", df.rdd.getNumPartitions.toDouble)
        val perTask = b.ledgers.last.taskInputBytes
        if (perTask.nonEmpty && targetBytes > 0)
          b.sample("sources.partition_fill", Bench.mean(perTask.map(_.toDouble)) / targetBytes)
      }
      same(got, want)
    }, bytesRead = Bench.dirBytes(Paths.get(path)))
}
