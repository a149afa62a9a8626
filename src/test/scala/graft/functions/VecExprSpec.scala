package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSessionFixture

/** Equivalence guard for the round-6 codegen'd vector kernels: each
  * vector expression must be BIT-IDENTICAL to the higher-order-
  * function formulation it replaced (the oracle SQL still replays the HOF
  * math, so any divergence is a correctness break, not a perf nit). The
  * old expressions are reproduced verbatim here and compared value-for-
  * value over the real sf0.01 embeddings. */
class VecExprSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.01"

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("vec_cosine_native matches the aggregate(zip_with(...)) fold bit-for-bit") {
    val oldCos = expr("""
      aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), 0D, (s, v) -> s + v)
      / (sqrt(aggregate(qe, 0D, (s, v) -> s + cast(v as double) * cast(v as double)))
         * sqrt(aggregate(ce, 0D, (s, v) -> s + cast(v as double) * cast(v as double))))
    """)
    val pairs = emb.where(col("vec_id") < 40)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(emb.where(col("vec_id") >= 40 && col("vec_id") < 80)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))
    val diff = pairs
      .select(oldCos.as("o"), NativeColumns.vecCosine(col("qe"), col("ce")).as("n"))
      .where(col("o") =!= col("n")) // bit-exact: any ULP difference fails
      .count()
    assert(diff == 0L, s"$diff cosine values differ from the HOF fold")
  }

  test("vec_quant_milli / vec_quant_dot match the transform/zip_with forms") {
    val oldQuant = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000d)).cast("long"))
    val qdiff = emb.select(oldQuant.as("o"),
        NativeColumns.vecQuantMilli(col("embedding")).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(qdiff == 0L, "quantMilli differs")
    val pairs = emb.where(col("vec_id") < 30)
      .select(NativeColumns.vecQuantMilli(col("embedding")).as("qe"))
      .crossJoin(emb.where(col("vec_id") >= 30 && col("vec_id") < 60)
        .select(NativeColumns.vecQuantMilli(col("embedding")).as("ce")))
    val oldDot = expr("aggregate(zip_with(qe, ce, (x, y) -> x * y), CAST(0 AS BIGINT), (s, v) -> s + v)")
    val ddiff = pairs.select(oldDot.as("o"),
        NativeColumns.vecQuantDot(col("qe"), col("ce")).as("n"))
      .where(col("o") =!= col("n")).count()
    assert(ddiff == 0L, "quantDot differs")
  }

  test("vec_pq_encode / vec_pq_codes match the nested transform/aggregate argmin") {
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
    val diff = emb.select(subs.as("o"),
        NativeColumns.vecPqEncode(col("embedding"), dim, m, ks).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(diff == 0L, "pqEncode structs differ")
    val oldCodes = transform(subs, e => e.getField("code"))
    val cdiff = emb.select(oldCodes.as("o"),
        NativeColumns.vecPqCodes(col("embedding"), dim, m, ks).as("n"))
      .where(not(col("o") <=> col("n"))).count()
    assert(cdiff == 0L, "pqCodes differ")
  }

  test("vec_ivf_cell / vec_ivf_probes match the packed router argmin; LUT dist matches the direct sum") {
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
    val cdiff = emb.select(oldCell.as("o"),
        NativeColumns.vecIvfCell(col("embedding"), dim, nlist).as("n"))
      .where(col("o") =!= col("n")).count()
    assert(cdiff == 0L, "ivfCell differs")
    val pdiff = emb.select(oldProbes.as("o"),
        NativeColumns.vecIvfProbes(col("embedding"), dim, nlist, nprobe).as("n"))
      .where(not(col("o") <=> col("n"))).count()
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
    val ddiff = pairs.select(oldDist.as("o"),
        NativeColumns.vecAdcDist(col("lut"), col("codes"), ks).as("n"))
      .where(col("o") =!= col("n")).count()
    assert(ddiff == 0L, "ADC LUT distance differs from the direct sum")
  }
}
