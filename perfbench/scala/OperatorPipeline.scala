package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, max, sum}

import graft.{CacheRegistry, Graft}

/** Repeated passes of the LLM-data chain: curation, kNN graph, similarity
  * search, four graph algorithms over the kNN edges, quantiles and
  * sessionization over `events`, and staged writes of the sessions and of
  * the per-node manifest. Every pass starts from `CacheRegistry.releaseAll()`. */
final class OperatorPipeline(plan: JsonNode) extends Workload {

  private def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq

  // the seed-drawn bindings every pass uses
  private val bind = plan.get("pass")
  private val queryIds = longs(bind.get("query_ids"))
  private val prIters = bind.get("pr_iters").asInt
  private val lpaIters = bind.get("lpa_iters").asInt
  private val bfsSeeds = longs(bind.get("bfs_seeds"))
  private val maxHops = bind.get("max_hops").asInt
  private val kcoreK = bind.get("kcore_k").asInt
  private val ps: Seq[(Double, String)] = bind.get("quantile_ps").elements.asScala
    .map(p => p.get(0).asDouble -> p.get(1).asText).toSeq
  private val gapUs = bind.get("gap_us").asLong

  private val expected: Map[String, Seq[Seq[Any]]] =
    plan.get("expected").properties.asScala.map(e => e.getKey -> Check.expectedRows(e.getValue)).toMap

  private var vectors = Map.empty[Long, Array[Double]]

  def prepare(b: Bench): Unit =
    vectors = b.spark.table("embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  /** The two cheap operators, so each session has planned and run a job. */
  def warmup(b: Bench): Unit = {
    val ev = b.spark.table("events")
    Graft.quantiles(ev, "value", Seq("event_type"), ps).collect()
    Graft.sessionize(ev, gapUs).count()
  }

  /** One untimed pass: JIT and code generation for every operator. */
  def prime(b: Bench): Unit = {
    pass(b)
    b.ledgers.clear()
  }

  def round(b: Bench): Unit = pass(b)

  private def expect(key: String, rows: Array[Row]): () => Option[String] =
    () => Check.rowsMatch(Check.rows(rows), expected(key))

  private def pass(b: Bench): Unit = {
    val spark = b.spark
    b.time("cache_registry.release")(CacheRegistry.releaseAll())
    val wh = b.tableBytes _
    var knn: DataFrame = null
    var edges: DataFrame = null
    var pr, lpa, bfs, core = Array.empty[Row]

    // call = time until the operator returns its frame; action = collect
    def run(name: String)(call: => DataFrame): Array[Row] = {
      val df = b.time(s"ops.$name.call")(call)
      b.time(s"ops.$name.action")(df.collect())
    }

    b.op("curate", "read") {
      val rows = run("curate")(Graft.curatePipeline(spark, b.wh))
      Outcome(expect("curate", rows), wh(Seq("documents", "embeddings")))
    }
    b.op("knn", "read") {
      val rows = run("knn") {
        knn = Graft.knnGraphRefined(spark, b.wh).persist()
        knn
      }
      val e = knn.select(col("qid").as("src"), col("cid").as("dst"))
      edges = b.time("ops.knn.edges") {
        val d = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct().persist()
        d.count()
        d
      }
      Outcome(() => Check.rowsMatch(Check.rows(rows.map(r =>
        Row(r.getAs[Long]("qid"), r.getAs[Long]("rank"), r.getAs[Long]("cid"),
          r.getAs[Double]("cosine")))), expected("knn")), wh(Seq("embeddings")))
    }
    b.op("similarity", "read") {
      val rows = run("similarity")(Graft.similaritySearch(spark, b.wh,
        queryIds = queryIds, k = 5))
      Outcome(() => similarityCheck(rows, queryIds, 5), wh(Seq("embeddings")))
    }
    b.op("pagerank", "compute") {
      pr = run("pagerank")(Graft.pageRank(edges, prIters).select("node", "rank"))
      Outcome(expect("pagerank", pr))
    }
    b.op("labelprop", "compute") {
      lpa = run("labelprop")(Graft.labelPropagation(edges, lpaIters).select("node", "label"))
      Outcome(expect("labelprop", lpa))
    }
    b.op("bfs", "compute") {
      import spark.implicits._
      val seeds = bfsSeeds.toDF("node")
      bfs = run("bfs")(Graft.bfs(edges, seeds, maxHops).select("node", "dist"))
      Outcome(expect("bfs", bfs))
    }
    b.op("kcore", "compute") {
      core = run("kcore")(Graft.kCore(edges, kcoreK).select("n", "dg"))
      Outcome(expect("kcore", core))
    }
    val events = spark.table("events")
    b.op("quantiles", "read") {
      val rows = run("quantiles")(Graft.quantiles(events, "value", Seq("event_type"), ps)
        .select((col("event_type") +: ps.map(x => col(x._2))): _*))
      Outcome(expect("quantiles", rows), wh(Seq("events")))
    }
    var sessions: DataFrame = null
    b.op("sessionize", "read") {
      val rows = run("sessionize") {
        sessions = Graft.sessionize(events, gapUs).persist()
        sessionStats(sessions)
      }
      Outcome(expect("sessions", rows), wh(Seq("events")))
    }
    val sessionsDir = s"${b.work}/sessions"
    b.op("write_sessions", "write") {
      b.time("ops.write_sessions.call")(
        Graft.writeStage(sessions, sessionsDir, overwrite = true, partitionBy = Seq("event_type")))
      Outcome(expect("sessions",
          sessionStats(spark.read.format("graft").load(sessionsDir)).collect()),
        bytesWritten = Bench.dirBytes(java.nio.file.Paths.get(sessionsDir)))
    }
    val dir = s"${b.work}/manifest"
    b.op("write_manifest", "write") {
      val manifest = manifestRows(pr, lpa, bfs, core)
      val df = spark.createDataFrame(spark.sparkContext.parallelize(manifest, b.cores),
        OperatorPipeline.manifestSchema)
      b.time("ops.write_manifest.call")(Graft.writeStage(df, dir, overwrite = true))
      Outcome(() => Check.rowsMatch(
          Check.rows(spark.read.format("graft").load(dir)
            .select(OperatorPipeline.manifestSchema.fieldNames.toIndexedSeq.map(col): _*).collect()),
          Check.rows(manifest.toArray)),
        bytesWritten = Bench.dirBytes(java.nio.file.Paths.get(dir)))
    }
    b.sample("cache_registry.entries_built", CacheRegistry.size.toDouble)
    Seq(edges, knn, sessions).filter(_ != null).foreach(_.unpersist())
  }

  /** Per user: events, sessions, and the sum of every event's session
    * number (any event in the wrong session changes it). */
  private def sessionStats(df: DataFrame): DataFrame =
    df.groupBy("user_id").agg(count("*"), max("session_seq"), sum("session_seq"))

  /** One row per PageRank node: its rank, label, BFS distance (null when
    * unreached) and whether it survives the k-core. */
  private def manifestRows(pr: Array[Row], lpa: Array[Row], bfs: Array[Row],
      core: Array[Row]): Seq[Row] = {
    val label = lpa.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = bfs.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inCore = core.map(_.getLong(0)).toSet
    pr.toSeq.map { r =>
      val n = r.getLong(0)
      Row(n, r.getLong(1), label.getOrElse(n, n), dist.get(n).map(Long.box).orNull,
        inCore(n))
    }
  }

  /** Approximate search: hits must be requested queries, at most k per
    * query, ranked by a cosine that matches the exact one. */
  private def similarityCheck(rows: Array[Row], queryIds: Seq[Long], k: Int): Option[String] = {
    val qs = queryIds.toSet
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d, na, nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val hits = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Double]("cosine")))
    hits.find(h => !qs(h._1)).map(h => s"hit for unrequested query ${h._1}")
      .orElse(hits.groupBy(_._1).find(_._2.length > k).map(g => s"query ${g._1} has ${g._2.length} hits"))
      .orElse(if (hits.map(_._1).toSet != qs) Some("a query got no hits") else None)
      .orElse(hits.find(h => !Check.close(h._3, cos(vectors(h._1), vectors(h._2))))
        .map(h => s"cosine ${h._3} of (${h._1}, ${h._2}) is not exact"))
  }

  override def layerMetrics(b: Bench): Map[String, Double] =
    b.ledgers.groupBy(_.name).map { case (n, ls) => s"ops.$n.jobs" -> Bench.mean(ls.map(_.jobs.toDouble)) }
}

object OperatorPipeline {
  import org.apache.spark.sql.types._
  val manifestSchema: StructType = StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("label", LongType, nullable = false),
    StructField("dist", LongType, nullable = true),
    StructField("in_core", BooleanType, nullable = false)))
}
