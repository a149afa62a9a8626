package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{CodegenModes, SparkSessionFixture}

/** Equivalence guard for the round-6 codegen'd vector kernels: each
  * vector expression must be BIT-IDENTICAL to the higher-order-
  * function formulation it replaced (the oracle SQL still replays the HOF
  * math, so any divergence is a correctness break, not a perf nit). The
  * old expressions are reproduced verbatim here and compared value-for-
  * value over the real sf0.01 embeddings, and again with null elements
  * planted in them: a null element gives what the HOF form gives. Each
  * comparison runs once compiled (a codegen error fails it instead of
  * falling back) and once interpreted, so both `doGenCode` and `eval`
  * are checked. */
class VecExprSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.01"

  private def real: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** The real embeddings with one null element in every third row, at an
    * index that walks all 64 positions, so each PQ subspace gets nulls. */
  private def withNulls: DataFrame = real.select(col("vec_id"),
    transform(col("embedding"), (x, i) =>
      when(col("vec_id") % 3 === 0 && i === col("vec_id") % 64, lit(null).cast("float"))
        .otherwise(x)).as("embedding"))

  test("the null-element embeddings hold nulls in every subspace") {
    val subs = withNulls.select(posexplode(col("embedding")).as(Seq("t", "x")))
      .where(col("x").isNull).select((col("t") / 16).cast("int")).distinct().count()
    assert(subs == 4)
  }

  for ((data, input) <- Seq("" -> (() => real), "null elements" -> (() => withNulls));
       (mode, confs) <- CodegenModes.modes) {
    val tags = Seq(data, mode).filter(_.nonEmpty)
    val label = if (tags.isEmpty) "" else tags.mkString(" (", ", ", ")")
    def emb: DataFrame = input()
    def differ(df: DataFrame, o: Column, n: Column): Long = CodegenModes.differWith(confs)(df, o, n)

    test(s"vec_cosine_native matches the aggregate(zip_with(...)) fold bit-for-bit$label") {
      val oldCos = expr("""
        aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), 0D, (s, v) -> s + v)
        / (sqrt(aggregate(qe, 0D, (s, v) -> s + cast(v as double) * cast(v as double)))
           * sqrt(aggregate(ce, 0D, (s, v) -> s + cast(v as double) * cast(v as double))))
      """)
      val pairs = emb.where(col("vec_id") < 40)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(emb.where(col("vec_id") >= 40 && col("vec_id") < 80)
          .select(col("vec_id").as("cid"), col("embedding").as("ce")))
      val diff = differ(pairs, oldCos, NativeColumns.vecCosine(col("qe"), col("ce")))
      assert(diff == 0L, s"$diff cosine values differ from the HOF fold")
    }

    test(s"vec_quant_milli / vec_quant_dot match the transform/zip_with forms$label") {
      val oldQuant = transform(col("embedding"),
        x => floor(x.cast("double") * lit(1000d)).cast("long"))
      val qdiff = differ(emb, oldQuant, NativeColumns.vecQuantMilli(col("embedding")))
      assert(qdiff == 0L, "quantMilli differs")
      val pairs = emb.where(col("vec_id") < 30)
        .select(NativeColumns.vecQuantMilli(col("embedding")).as("qe"))
        .crossJoin(emb.where(col("vec_id") >= 30 && col("vec_id") < 60)
          .select(NativeColumns.vecQuantMilli(col("embedding")).as("ce")))
      val oldDot = expr("aggregate(zip_with(qe, ce, (x, y) -> x * y), CAST(0 AS BIGINT), (s, v) -> s + v)")
      val ddiff = differ(pairs, oldDot, NativeColumns.vecQuantDot(col("qe"), col("ce")))
      assert(ddiff == 0L, "quantDot differs")
    }

    test(s"vec_pq_encode / vec_pq_codes match the nested transform/aggregate argmin$label") {
      val (dim, m, ks) = (64, 4, 16)
      val d0 = dim / m
      val subs = transform(sequence(lit(0), lit(m - 1)), s => {
        val packed = array_min(transform(sequence(lit(0), lit(ks - 1)), j => {
          val dist = aggregate(
            sequence(s * lit(d0), s * lit(d0) + lit(d0 - 1)), lit(0L),
            (acc, t) => {
              val q = floor(element_at(col("embedding"), t + 1).cast("double") * 1000)
                .cast("long")
              val cv = (pmod(j * 31 + t * 17, lit(2001)) - 1000).cast("long")
              acc + (q - cv) * (q - cv)
            })
          dist * ks + j.cast("long")
        }))
        struct(s.cast("long").as("sub"),
          pmod(packed, lit(ks.toLong)).as("code"),
          shiftright(packed, 4).as("err"))
      })
      val diff = differ(emb, subs, NativeColumns.vecPqEncode(col("embedding"), dim, m, ks))
      assert(diff == 0L, "pqEncode structs differ")
      val oldCodes = transform(subs, e => e.getField("code"))
      val cdiff = differ(emb, oldCodes, NativeColumns.vecPqCodes(col("embedding"), dim, m, ks))
      assert(cdiff == 0L, "pqCodes differ")
    }

    test(s"vec_ivf_cell / vec_ivf_probes match the packed router argmin; LUT dist matches the direct sum$label") {
      val (dim, m, ks, nlist, nprobe) = (64, 4, 16, 16, 4)
      val d0 = dim / m
      val packedArr = transform(sequence(lit(0), lit(nlist - 1)), j => {
        val dist = aggregate(sequence(lit(0), lit(dim - 1)), lit(0L),
          (acc, t) => {
            val q = floor(element_at(col("embedding"), t + 1).cast("double") * 1000).cast("long")
            val cv = (pmod(j * 53 + t * 29, lit(2001)) - 1000).cast("long")
            acc + (q - cv) * (q - cv)
          })
        dist * nlist + j.cast("long")
      })
      val oldCell = pmod(array_min(packedArr), lit(nlist.toLong))
      val oldProbes = transform(slice(array_sort(packedArr), 1, nprobe),
        p => pmod(p, lit(nlist.toLong)))
      val cdiff = differ(emb, oldCell, NativeColumns.vecIvfCell(col("embedding"), dim, nlist))
      assert(cdiff == 0L, "ivfCell differs")
      val pdiff = differ(emb, oldProbes, NativeColumns.vecIvfProbes(col("embedding"), dim, nlist, nprobe))
      assert(pdiff == 0L, "ivfProbes differ")
      // LUT-factorized ADC distance vs the direct Σ_s Σ_t integer sum
      val oldDist = aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (acc, s) =>
        acc + aggregate(
          sequence(s * lit(d0), s * lit(d0) + lit(d0 - 1)), lit(0L),
          (a2, t) => {
            val q = floor(element_at(col("qe"), t + 1).cast("double") * 1000).cast("long")
            val j = element_at(col("codes"), s + 1)
            val cv = (pmod(j * 31 + t * 17, lit(2001)) - 1000).cast("long")
            a2 + (q - cv) * (q - cv)
          }))
      val pairs = emb.where(col("vec_id") < 20)
        .select(col("embedding").as("qe"),
          NativeColumns.vecAdcLut(col("embedding"), dim, m, ks).as("lut"))
        .crossJoin(emb.where(col("vec_id") >= 20 && col("vec_id") < 60)
          .select(NativeColumns.vecPqCodes(col("embedding"), dim, m, ks).as("codes")))
      val ddiff = differ(pairs, oldDist, NativeColumns.vecAdcDist(col("lut"), col("codes"), ks))
      assert(ddiff == 0L, "ADC LUT distance differs from the direct sum")
    }
  }
}
