package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A BM25 query batch indexed by term: per query term, the queries that
  * hold it, its position in each query's distinct terms, and its idf.
  * Built from the batch's `entries` array once per [[Bm25Cache]], never
  * per document. */
final class Bm25Batch(entries: ArrayData) {
  private final class Entry(val q: Long, val pos: Int, val idf: Double)

  private val byTerm: Map[String, Array[Entry]] =
    (0 until entries.numElements()).map { i =>
      val e = entries.getStruct(i, 4)
      e.getUTF8String(0).toString ->
        new Entry(e.getLong(1), e.getInt(2), e.getDouble(3))
    }.groupMap(_._1)(_._2).map { case (t, es) => t -> es.toArray }

  def contains(term: String): Boolean = byTerm.contains(term)

  /** `(q_id, score)` for every query sharing a term with a document of
    * `dl` tokens whose query-term counts are `tfs`: each term's part is
    * `idf * (tf*(k1+1)) / (tf + k1*((1-b) + b*dl/avgdl))`, a query's parts
    * sum from 0.0 in the order of its distinct terms, and the sum is
    * quantised to 1e-6 (`floor(x*1e6 + 0.5) / 1e6`). O(matched entries ×
    * log) — the batch's other queries are never visited. */
  def score(tfs: mutable.Map[String, Long], dl: Long, avgdl: Double,
            k1: Double, b: Double): ArrayData = {
    val parts = mutable.ArrayBuffer.empty[(Long, Int, Double)]
    val norm = k1 * ((1.0 - b) + b * dl.toDouble / avgdl)
    for ((t, n) <- tfs; e <- byTerm.getOrElse(t, Array.empty[Entry])) {
      val tf = n.toDouble
      parts += ((e.q, e.pos, e.idf * (tf * (k1 + 1.0)) / (tf + norm)))
    }
    // (q, pos) is unique unless one q_id came in two query rows; the
    // part breaks that tie, so the summation order is fixed either way
    val sorted = parts.sortInPlace()(Ordering.Tuple3(Ordering.Long,
      Ordering.Int, Ordering.Double.TotalOrdering))
    val out = mutable.ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < sorted.length) {
      val q = sorted(i)._1
      var raw = 0.0
      while (i < sorted.length && sorted(i)._1 == q) { raw += sorted(i)._3; i += 1 }
      out += InternalRow(q, math.floor(raw * 1e6 + 0.5).toLong / 1e6)
    }
    new GenericArrayData(out.toArray[Any])
  }
}

/** One task's batch, indexed on the first document and reused. The
  * batch is one broadcast row, the same for every document a task
  * scores, and a cache lives in one task's expression or generated code. */
final class Bm25Cache {
  private var batch: Bm25Batch = _

  def get(entries: ArrayData): Bm25Batch = {
    if (batch == null) batch = new Bm25Batch(entries)
    batch
  }

  /** A document given as text: tokenised by `Dedup.tokensKernel`, the
    * tokens `Dedup.tokens` yields. Only query terms are counted. */
  def scoreText(text: UTF8String, entries: ArrayData, avgdl: Double,
                k1: Double, b: Double): ArrayData = {
    val qb = get(entries)
    val toks = graft.operators.Dedup.tokensKernel(text.toString)
    val tfs = mutable.HashMap.empty[String, Long]
    toks.foreach(t => if (qb.contains(t)) tfs(t) = tfs.getOrElse(t, 0L) + 1L)
    qb.score(tfs, toks.length.toLong, avgdl, k1, b)
  }

  /** A document given as its postings: `struct(tt array<struct<term,
    * tf>>, dl)` with (term, doc) unique. */
  def scorePostings(doc: InternalRow, entries: ArrayData, avgdl: Double,
                    k1: Double, b: Double): ArrayData = {
    val tt = doc.getArray(0)
    val tfs = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < tt.numElements()) {
      val p = tt.getStruct(i, 2)
      tfs(p.getUTF8String(0).toString) = p.getLong(1)
      i += 1
    }
    get(entries).score(tfs, doc.getLong(1), avgdl, k1, b)
  }
}

/** BM25 of one document against a whole query batch, in the document's
  * own row: `array<struct<q_id: long, score: double>>`, one element per
  * query that shares a term with the document. `entries` is the batch
  * (`array<struct<term: string, q_id: long, pos: int, idf: double>>`)
  * and `avgdl` the corpus's mean length, both read from one broadcast
  * row; `doc` is the text or the postings struct
  * ([[Bm25Cache.scorePostings]]). Generated code keeps one
  * [[Bm25Cache]] per task, so the batch is indexed once per task and a
  * document costs O(tokens + matched entries), never O(batch). */
case class Bm25Score(doc: Expression, entries: Expression, avgdl: Expression,
                     k1: Double, b: Double)
    extends TernaryExpression {
  override def first: Expression = doc
  override def second: Expression = entries
  override def third: Expression = avgdl

  override def dataType: DataType = ArrayType(new StructType()
    .add("q_id", LongType, nullable = false)
    .add("score", DoubleType, nullable = false), containsNull = false)

  @transient private lazy val fromText: Boolean = doc.dataType match {
    case StringType => true
    case _: StructType => false
    case t => throw new IllegalArgumentException(
      s"bm25 scores a text or a postings struct, got $t")
  }

  @transient private lazy val cache = new Bm25Cache

  override def nullSafeEval(d: Any, e: Any, a: Any): Any = {
    val (es, avg) = (e.asInstanceOf[ArrayData], a.asInstanceOf[Double])
    if (fromText) cache.scoreText(d.asInstanceOf[UTF8String], es, avg, k1, b)
    else cache.scorePostings(d.asInstanceOf[InternalRow], es, avg, k1, b)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val cls = classOf[Bm25Cache].getName
    val c = ctx.addMutableState(cls, "bm25Cache", v => s"$v = new $cls();")
    val call = if (fromText) "scoreText" else "scorePostings"
    // the constants' exact bits, so no double is re-parsed from text
    def bits(x: Double) =
      s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(x)}L)"
    nullSafeCodeGen(ctx, ev, (d, e, a) =>
      s"${ev.value} = $c.$call($d, $e, $a, ${bits(k1)}, ${bits(b)});")
  }

  override protected def withNewChildrenInternal(d: Expression, e: Expression,
      a: Expression): Bm25Score =
    copy(doc = d, entries = e, avgdl = a)
}

object Bm25Expressions {
  def bm25Score(doc: Column, entries: Column, avgdl: Column, k1: Double,
                b: Double): Column =
    GraftColumnBridge.column(Bm25Score(GraftColumnBridge.expression(doc),
      GraftColumnBridge.expression(entries),
      GraftColumnBridge.expression(avgdl), k1, b))
}
