package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** The NN-Descent rescore as a map-side codegen expression:
  * `pair_cosine(qid, cid) = dot(v_q, v_c) / (nrm_q · nrm_c)` against a
  * session-registered vector table (r16 optimization round).
  *
  * Why an expression and not a join: the refine loop rescores a candidate
  * PAIR stream once per round, and the vector sides are loop-INVARIANT —
  * as joins they re-broadcast (or worse, re-shuffle the pair stream
  * against) the identical vector table every round, two extra jobs and
  * two hash-relation builds per round for bytes that never change. Here
  * the table ships once per executor as a codegen reference object (the
  * [[IvfNearestCells]] centroid-matrix pattern) and the rescore becomes a
  * narrow projection over (qid, cid) pairs.
  *
  * Bounded by DISPATCH, not hope: [[graft.ops.Vector]] registers this only
  * below its measured `RefineBroadcastMaxVecs` corpus size — the same
  * driver/executor volume the broadcast-join arm would pin anyway (the
  * hash relation held the identical vectors) — and falls back to shuffle
  * joins above it.
  *
  * Numerics: the dot is the same sequential left fold in element order as
  * [[DotProduct]] over `min(|q|, |c|)` elements, the norms are the
  * PRECOMPUTED per-vector norms handed in at registration — so
  * `pair_cosine(q, c)` is bit-identical to
  * `dot_product(qv, cv) / (qn * cn)` on the joined frame. Rounding stays
  * OUTSIDE (callers apply Spark's own `round(…, 6)`), so there is no
  * second rounding implementation to keep in lockstep.
  *
  * Ids are resolved through an open-addressed long→index table (no boxing
  * on the per-pair path); an id that is not in the registered corpus
  * fails LOUDLY — candidates are corpus members by construction, and a
  * silent null would turn a wiring bug into a dropped edge.
  */
final class PairCosineTable(
    val keys: Array[Long], val slot: Array[Int],
    val vecs: Array[Array[Double]], val nrms: Array[Double])
    extends Serializable

object PairCosineTable {

  /** Build the open-addressed table: capacity = next power of two ≥ 2n,
    * linear probing, Fibonacci hashing. Ids are distinct by contract
    * (vec_id is the corpus key). */
  def build(ids: Array[Long], vecs: Array[Array[Double]],
      nrms: Array[Double]): PairCosineTable = {
    require(ids.length == vecs.length && ids.length == nrms.length,
      "ids/vecs/nrms must align")
    require(ids.nonEmpty, "pair_cosine over an empty corpus")
    var cap = 2
    while (cap < ids.length * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val slot = new Array[Int](cap)
    java.util.Arrays.fill(slot, -1)
    var i = 0
    while (i < ids.length) {
      var h = fib(ids(i), cap)
      while (slot(h) >= 0) {
        require(keys(h) != ids(i), s"duplicate vec_id ${ids(i)}")
        h = (h + 1) & (cap - 1)
      }
      keys(h) = ids(i); slot(h) = i
      i += 1
    }
    new PairCosineTable(keys, slot, vecs, nrms)
  }

  @inline private def fib(k: Long, cap: Int): Int =
    (((k * -7046029254386353131L) >>> 32).toInt) & (cap - 1)

  /** Index of `id`, or an IllegalArgumentException — called from both the
    * interpreted eval and the generated code. */
  def idx(t: PairCosineTable, id: Long): Int = {
    val cap = t.keys.length
    var h = fib(id, cap)
    while (true) {
      val s = t.slot(h)
      if (s < 0) throw new IllegalArgumentException(
        s"pair_cosine: vec_id $id is not in the registered corpus")
      if (t.keys(h) == id) return s
      h = (h + 1) & (cap - 1)
    }
    -1 // unreachable
  }

  /** The scoring fold shared by eval and codegen. */
  def cosine(t: PairCosineTable, qid: Long, cid: Long): Double = {
    val iq = idx(t, qid)
    val ic = idx(t, cid)
    val a = t.vecs(iq)
    val b = t.vecs(ic)
    val n = math.min(a.length, b.length)
    var dot = 0d
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    dot / (t.nrms(iq) * t.nrms(ic))
  }
}

/** The table rides a SparkContext BROADCAST, not a plan reference object:
  * `addReferenceObj` serializes the object into EVERY stage's task binary
  * (measured at the 100× replica: 107 MiB task binary re-broadcast per
  * stage, seconds of pure serialization per round); a broadcast ships the
  * bytes once per executor and the task closure carries only the handle. */
case class PairCosine(left: Expression, right: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PairCosineTable])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "pair_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PairCosineTable.cosine(bc.value, a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[PairCosineTable].getName
    val bcRef = ctx.addReferenceObj("pairCosBc", bc,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    // resolve the broadcast once per operator instance, not per row
    val tbl = ctx.addMutableState(cls, "pairCosTbl",
      v => s"$v = ($cls) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = graft.functions.PairCosineTable.cosine($tbl, $q, $c);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PairCosine =
    copy(left = newLeft, right = newRight)
}

object PairCosine {

  /** One live binding per session: (corpus key, its broadcast). Repeated
    * refine-family keys over the same corpus skip the re-collect +
    * re-broadcast entirely ([[registerOnce]]); a rebind to a DIFFERENT
    * corpus unpersists the superseded broadcast's executor blocks
    * instead of leaking them until GC. It is NOT destroyed: a frame
    * analyzed before the rebind still holds the old expression, and
    * executors re-fetch its value from the driver's copy when that
    * frame runs. */
  private val bound = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, (String, org.apache.spark.broadcast.Broadcast[PairCosineTable])]

  /** Register `pair_cosine` bound to THIS corpus snapshot. Expressions are
    * captured into plans at analysis time, so queries built before a
    * re-registration keep the broadcast they were built with. */
  def register(spark: SparkSession, ids: Array[Long],
      vecs: Array[Array[Double]], nrms: Array[Double]): Unit =
    bind(spark, ids, vecs, nrms)

  private def bind(spark: SparkSession, ids: Array[Long],
      vecs: Array[Array[Double]],
      nrms: Array[Double]): org.apache.spark.broadcast.Broadcast[PairCosineTable] = {
    val bc = spark.sparkContext.broadcast(
      PairCosineTable.build(ids, vecs, nrms))
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("pair_cosine"),
      new ExpressionInfo(classOf[PairCosine].getName, "pair_cosine"),
      { exprs =>
        require(exprs.length == 2,
          s"pair_cosine expects 2 arguments, got ${exprs.length}")
        PairCosine(Cast(exprs(0), LongType), Cast(exprs(1), LongType), bc)
      })
    bc
  }

  /** [[register]], memoized per (session, corpus key): the corpus collect
    * (`build`) and the broadcast happen only when the session is not yet
    * bound to `corpusKey`. The check and the rebind are ONE atomic
    * `compute`, so concurrent callers for a session never both build or
    * unpersist a binding the other just installed. Dead sessions drop out
    * of the memo. */
  def registerOnce(spark: SparkSession, corpusKey: String)(
      build: => (Array[Long], Array[Array[Double]], Array[Double])): Unit = {
    bound.compute(spark, (_, prev) =>
      if (prev != null && prev._1 == corpusKey && !spark.sparkContext.isStopped)
        prev
      else {
        if (prev != null && !spark.sparkContext.isStopped)
          prev._2.unpersist(blocking = false)
        val (ids, vecs, nrms) = build
        corpusKey -> bind(spark, ids, vecs, nrms)
      })
    bound.keySet.removeIf(_.sparkContext.isStopped)
  }
}
