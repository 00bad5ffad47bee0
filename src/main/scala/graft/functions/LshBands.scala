package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All banded random-hyperplane LSH buckets of an embedding in ONE codegen
  * expression: `bands` longs, band j packing `rowsPerBand` sign bits of
  * hyperplane dot products.
  *
  * The naive column formulation (one `graft_dot(e, array(64 literals))`
  * per hyperplane) builds bands×rows expression subtrees of 64 literals
  * each — at 24×6 that is a ~9k-node plan whose generated source blows the
  * JIT/Janino budget (measured 5.9 s for the ANN query at sf0.1, mostly
  * compilation and literal re-evaluation). Here the hyperplane sign matrix
  * is ONE reference object shared by every row and the whole signature is
  * a tight nested loop — compact source, no per-row literal traffic.
  *
  * The matrix is the SAME seeded ±1 family the column formulation used
  * (scala.util.Random(42), row-major consumption), so bucket values — and
  * therefore the golden hashes of every LSH query — are unchanged.
  */
case class LshBands(child: Expression, bands: Int, rowsPerBand: Int,
                    tableDim: Int = LshBands.defaultDim)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_bands expects array<double>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_bands"
  // null element or short/long row → null signature (callers filter nulls)
  override def nullable: Boolean = true

  // table width: requested dim, clamped up so sub-64 corpora share the
  // legacy (golden-pinned) 64-wide table
  private val width = math.max(tableDim, LshBands.defaultDim)

  @transient private lazy val planes: Array[Array[Double]] =
    LshBands.hyperplanes(bands * rowsPerBand, width)

  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val n = e.numElements()
    // over-dim input fails LOUD: a null here would be silently dropped by
    // the caller's posexplode, turning every blocked/ANN result into an
    // empty frame with no error (callers size tableDim from the data's
    // actual dim at plan time; see Sim.inferDim)
    if (n > width) throw new IllegalArgumentException(
      s"graft_lsh_bands sized for dim $width, got a $n-element row — " +
        "re-plan with the corpus's true dimensionality")
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var bucket = 0L
      var i = 0
      while (i < rowsPerBand) {
        val hp = planes(j * rowsPerBand + i)
        var acc = 0.0
        var d = 0
        while (d < n) {
          if (e.isNullAt(d)) return null
          acc += e.getDouble(d) * hp(d)
          d += 1
        }
        if (acc > 0) bucket |= (1L << i)
        i += 1
      }
      out(j) = bucket
      j += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, e => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val bucket = ctx.freshName("bucket")
      val hp = ctx.freshName("hp")
      s"""
         |int $n = $e.numElements();
         |if ($n > $width) {
         |  throw new IllegalArgumentException(
         |    "graft_lsh_bands sized for dim ${width}, got a " + $n +
         |    "-element row — re-plan with the corpus's true dimensionality");
         |}
         |long[] $out = new long[$bands];
         |for (int $j = 0; $j < $bands && !${ev.isNull}; $j++) {
         |  long $bucket = 0L;
         |  for (int $i = 0; $i < $rowsPerBand; $i++) {
         |    double[] $hp = $mat[$j * $rowsPerBand + $i];
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      if ($e.isNullAt($d)) { ${ev.isNull} = true; break; }
         |      $acc += $e.getDouble($d) * $hp[$d];
         |    }
         |    if (${ev.isNull}) break;
         |    if ($acc > 0) $bucket |= (1L << $i);
         |  }
         |  $out[$j] = $bucket;
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

object LshBands {
  /** Make `graft_lsh_bands` (and the rest of graft) callable in this session;
    * see [[graft.GraftSession.install]]. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftSession.install(spark)

  /** Width of the legacy hyperplane table. Tables at dim ≤ defaultDim are
    * generated at exactly this width with the SAME seed and consumption
    * order as before the dim lift (Random(42), row-major), so every bucket
    * value — and every golden hash — from the 64-dim era is unchanged.
    * Wider corpora get a table generated at their true dim (cache key
    * (nBits, dim)); those are new code paths with no goldens to preserve. */
  val defaultDim = 64

  private val cache = scala.collection.concurrent.TrieMap
    .empty[(Int, Int), Array[Array[Double]]]

  /** Deterministic ±1 hyperplanes at the requested width. `dim` is clamped
    * UP to [[defaultDim]] so sub-64-dim corpora reuse the legacy table
    * (bit-identical buckets) instead of minting a third family. */
  def hyperplanes(nBits: Int, dim: Int = defaultDim): Array[Array[Double]] = {
    val width = math.max(dim, defaultDim)
    cache.getOrElseUpdate((nBits, width), {
      val rnd = new scala.util.Random(42)
      Array.fill(nBits)(Array.fill(width)(if (rnd.nextBoolean()) 1.0 else -1.0))
    })
  }
}
