package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What the benchmark keeps of a result to check it: the row count, an
  * order-independent hash over every column that holds no floating-point
  * value (the `bit_xor(xxhash64(...))` force `graft.Bench` uses), and for
  * each top-level float column its sum and sum of magnitudes. Float sums
  * depend on the order partial aggregates are merged in, so they are
  * compared with a relative tolerance instead of being hashed. A float
  * nested inside a struct, array or map leaves its column out of the
  * hash; only its non-null count is kept. */
final case class Digest(rows: Long, hash: Long, floats: Vector[(Double, Double)],
                        schema: String) {
  def encode: String =
    s"$rows\t$hash\t${floats.map { case (s, a) => s"$s,$a" }.mkString(";")}\t$schema"

  def matches(exp: Digest, shapeOnly: Boolean): Boolean =
    rows == exp.rows && schema == exp.schema && (shapeOnly || (hash == exp.hash &&
      floats.size == exp.floats.size && floats.zip(exp.floats).forall {
        case ((s, a), (es, ea)) =>
          (s.isNaN && es.isNaN) || math.abs(s - es) <= 1e-6 * math.max(1.0, math.max(a, ea))
      }))
}

object Digest {
  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case _ => false
  }

  /** Run `df` to completion and digest it in one action. Also returns
    * the digesting frame, whose `queryExecution.tracker` holds the
    * planning phases of that action. */
  def of(df: DataFrame): (Digest, DataFrame) = {
    val fields = df.schema.fields.toVector
    val (floaty, exact) = fields.partition(f => hasFloat(f.dataType))
    val (flat, nested) = floaty.partition(f => f.dataType == DoubleType || f.dataType == FloatType)
    val hashed: Column =
      if (exact.isEmpty) lit(0L) else xxhash64(exact.map(f => col(s"`${f.name}`")): _*)
    val aggs: Vector[Column] =
      Vector(count(lit(1)), coalesce(bit_xor(hashed), lit(0L))) ++
        flat.flatMap { f =>
          val c = col(s"`${f.name}`").cast(DoubleType)
          Vector(coalesce(sum(c), lit(0.0)), coalesce(sum(abs(c)), lit(0.0)))
        } ++ nested.map(f => count(col(s"`${f.name}`")))
    val forced = df.agg(aggs.head, aggs.tail: _*)
    val r = forced.collect()(0)
    val floats = flat.indices.map(i => (r.getDouble(2 + 2 * i), r.getDouble(3 + 2 * i))).toVector
    val nestedCounts = nested.indices.map(i => r.getLong(2 + 2 * flat.size + i))
    (Digest(r.getLong(0), r.getLong(1) ^ nestedCounts.foldLeft(0L)(_ * 31 + _), floats,
      Integer.toHexString(df.schema.simpleString.hashCode)), forced)
  }

  def decode(s: String): Digest = {
    val p = s.split("\t", -1)
    val floats = if (p(2).isEmpty) Vector.empty else p(2).split(";").toVector.map { x =>
      val Array(a, b) = x.split(","); (a.toDouble, b.toDouble)
    }
    Digest(p(0).toLong, p(1).toLong, floats, p(3))
  }
}
