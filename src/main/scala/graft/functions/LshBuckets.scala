package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Sign-random-projection LSH bucket keys for a float vector:
  * `tables` hash tables × `bits` hyperplane bits each → array<long> of
  * `tables` bucket keys. The ANN scale path: vectors sharing a bucket in
  * ANY table become candidate neighbors, turning the O(n²) pair join into
  * a bucket equi-join.
  *
  * Everything is INTEGER arithmetic so the bucketing is bit-identical
  * across engines (the DuckDB oracle replicates it in SQL):
  *  - components quantized by `floor(v * 2^20)` (floor, not round — no
  *    tie-breaking ambiguity),
  *  - hyperplane weights are md5-derived integers in [-1000, 1000]
  *    (`w(t,b,d) = ('0x'||substr(md5('p_t_b_d'),1,15))::BIGINT % 2001 - 1000`),
  *  - the dot-product sign test is an exact BIGINT comparison — no
  *    float summation order to disagree on.
  *
  * Geometry is PARAMETERIZED (r8, after SCALING.json measured the
  * fixed-geometry embedding edge build superlinear at ×16/×64): the
  * default [[LshBuckets.Tables]]×[[LshBuckets.Bits]] suits the test
  * corpus; at production scale grow `bits` with log₂(n) (and `tables`
  * for recall) so expected bucket occupancy n/2^bits stays bounded —
  * plane weights for a given (t, b, d) are identical at every geometry,
  * so widening only SPLITS buckets. Supports up to
  * [[LshBuckets.MaxTables]] × [[LshBuckets.MaxBits]] ×
  * [[LshBuckets.MaxDims]]. */
case class LshBuckets(child: Expression,
    tables: Int = LshBuckets.Tables,
    bits: Int = LshBuckets.Bits) extends UnaryExpression {
  import LshBuckets._

  require(tables > 0 && tables <= MaxTables && bits > 0 && bits <= MaxBits,
    s"lsh_buckets geometry out of range: $tables x $bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets expects array<float>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      LshBuckets.compute(input.asInstanceOf[ArrayData], tables, bits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = "graft.functions.LshBuckets$.MODULE$"
    nullSafeCodeGen(ctx, ev, v => {
      s"""
      ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        $helper.compute($v, $tables, $bits));
      """
    })
  }

  override def prettyName: String = "lsh_buckets"
  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {
  import org.apache.spark.sql.graftshim

  val Tables = 4
  val Bits = 8 // 256 buckets/table: sized for the test corpus (~500-5000
               // vectors); at production scale grow with log2(n) so
               // expected bucket size stays bounded (pass wider geometry
               // to the constructor — Dedup.embeddingLshPairsWide)
  val MaxTables = 32 // 8 → 16 in r13 (the AND-composed dedup branch
                     // draws CompositeLshTables(8) × arity(2) base
                     // signatures); 16 → 32 in r14 for composite
                     // trade-off rows at T = 12/16 (24/32 base
                     // signatures, SCALING.json). Per-table paths stay
                     // ≤ 8 (WideLshTables). Plane (t, b, d) values are
                     // index-determined (md5), so widening the maxima
                     // leaves every existing table's planes identical
                     // — every committed oracle result is unchanged.
  val MaxBits = 16
  val MaxDims = 256
  val QuantScale = 1048576L // 2^20

  /** w(t, b, d), d 1-based — identical to the oracle's md5 formula;
    * tabulated once to the maxima so every geometry shares the same
    * plane for a given (t, b, d). */
  lazy val planes: Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(MaxTables, MaxBits, MaxDims) { (t, b, d0) =>
      val d = d0 + 1
      val hex = md.digest(s"p_${t}_${b}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
  }

  def compute(v: ArrayData, tables: Int, bits: Int): Array[Long] = {
    val n = v.numElements()
    require(n <= MaxDims, s"lsh_buckets supports <= $MaxDims dims, got $n")
    val q = new Array[Long](n)
    var d = 0
    while (d < n) {
      q(d) = math.floor(v.getFloat(d).toDouble * QuantScale).toLong
      d += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        var dot = 0L
        var i = 0
        while (i < n) { dot += q(i) * planes(t)(b)(i); i += 1 }
        if (dot >= 0) key |= (1L << b)
        b += 1
      }
      out(t) = key
      t += 1
    }
    out
  }

  def apply(vec: Column): Column =
    graftshim.toColumn(LshBuckets(graftshim.toExpression(vec)))

  def apply(vec: Column, tables: Int, bits: Int): Column =
    graftshim.toColumn(LshBuckets(graftshim.toExpression(vec), tables, bits))
}
