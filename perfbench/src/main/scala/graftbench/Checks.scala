package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks. They run outside every timed region. */
object Checks {
  /** A column rendered as a canonical string: floating-point values to
    * nine significant digits (last-bit differences between partition
    * orders vanish), nested values element by element, null as a fixed
    * marker. */
  def canonical(c: Column, t: DataType): Column = {
    val rendered = t match {
      case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType))
      case ArrayType(et, _) => concat(lit("["), concat_ws(",", transform(c, x => canonical(x, et))), lit("]"))
      case StructType(fields) =>
        concat(lit("{"), concat_ws(",", fields.toSeq.map(f => canonical(c.getField(f.name), f.dataType)): _*), lit("}"))
      case _ => c.cast(StringType)
    }
    coalesce(rendered, lit("∅"))
  }

  /** Row count and an order-insensitive hash of the whole content: the
    * sum of one 64-bit hash per row, so row order and partitioning do
    * not matter but every value of every column does. */
  def contentHash(df: DataFrame): (Long, String) = {
    val row = concat_ws("\u0001", df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(r.getDecimal(1)).map(_.toBigInteger).getOrElse(java.math.BigInteger.ZERO)
    (r.getLong(0), total.mod(java.math.BigInteger.ONE.shiftLeft(64)).toString(16))
  }

  /** Cosine similarity the way a flat scan scores it. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  final case class Hit(id: String, score: Double)

  /** Exact top-k by brute force over the collected store, ties broken
    * by id so that the answer is unique. */
  def exactTopK(store: Seq[(String, Array[Float])], q: Array[Float], k: Int): Seq[Hit] =
    store.map { case (id, v) => Hit(id, cosine(q, v)) }
      .sortBy(h => (-h.score, h.id)).take(k)

  val ScoreTol = 1e-5

  /** Does `got` equal the exact answer up to score ties? Scores must
    * match rank by rank, and ids may differ only among hits whose score
    * ties the last exact score. */
  def sameTopK(got: Seq[Hit], exact: Seq[Hit]): Boolean =
    got.size == exact.size &&
      got.zip(exact).forall { case (g, e) => math.abs(g.score - e.score) <= ScoreTol } && {
        val cut = exact.lastOption.map(_.score).getOrElse(0.0) + ScoreTol
        exact.filter(_.score > cut).map(_.id).toSet.subsetOf(got.map(_.id).toSet)
      }

  /** Share of the exact top-k ids that `got` also returned. */
  def recall(got: Seq[Hit], exact: Seq[Hit]): Double =
    if (exact.isEmpty) 1.0
    else got.map(_.id).toSet.intersect(exact.map(_.id).toSet).size.toDouble / exact.size

  /** Problems with an approximate answer: more than k hits, repeated or
    * unknown ids, ids outside the searchable set (filtered out or
    * deleted), scores that are not the true similarity, or hits out of
    * score order. Empty when the answer is valid. */
  def validApprox(got: Seq[Hit], k: Int, allowed: Map[String, Array[Float]],
                  q: Array[Float]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (got.size > k) problems += s"${got.size} hits for k=$k"
    if (got.map(_.id).distinct.size != got.size) problems += "repeated id"
    got.foreach { h =>
      allowed.get(h.id) match {
        case None => problems += s"id ${h.id} is not searchable"
        case Some(v) if math.abs(cosine(q, v) - h.score) > ScoreTol =>
          problems += s"id ${h.id} scored ${h.score}, true ${cosine(q, v)}"
        case _ => ()
      }
    }
    if (got.zip(got.drop(1)).exists { case (a, b) => b.score > a.score + ScoreTol })
      problems += "hits out of score order"
    problems.result()
  }
}
