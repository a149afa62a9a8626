package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{CodegenModes, SparkSessionFixture}

/** Pins the digest-byte Md5ModExpr against the original hex-substring/
  * conv/DECIMAL pipeline (still the form the DuckDB oracle replays as
  * md5_number_upper(s) % m) — value-identical on corpus text, ids, edge
  * cases and null, across several moduli, compiled and interpreted. */
class Md5ModSpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private def oldMd5Mod(s: org.apache.spark.sql.Column, m: Long) = {
    val h = md5(s)
    val le = concat((7 to 0 by -1).map(i => substring(h, 1 + 2 * i, 2)): _*)
    pmod(conv(le, 16, 10).cast(DecimalType(20, 0)), lit(m)).cast("long")
  }

  /** Corpus text, edge cases and null, as column `s`. */
  private def strings: DataFrame = {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text").as("s"))
    val edge = Seq("", "a", "boot:0:0", "κλμ unicode ✓", "x" * 5000, "\u0000nul",
      "0", "-1", "prio:123", null).toDF("s")
    docs.unionByName(edge)
  }

  for ((mode, confs) <- CodegenModes.modes) {
    val label = if (mode.isEmpty) "" else s" ($mode)"

    test(s"md5_mod_native equals the hex/conv pipeline on corpus strings and edge cases$label") {
      for (m <- Seq(2L, 7L, 1000L, 1L << 40, 288230376151711717L)) {
        val diff = CodegenModes.differWith(confs)(strings, oldMd5Mod(col("s"), m),
          graft.ops.Sampling.md5Mod(col("s"), m))
        assert(diff == 0L, s"md5Mod mismatch at m=$m")
      }
    }
  }
}
