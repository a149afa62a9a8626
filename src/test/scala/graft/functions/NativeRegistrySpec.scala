package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.{LogCapture, SparkSessionFixture}

/** The SQL surface has one installer: [[NativeRegistry.register]] installs
  * the same names the session extension injects, once per session. */
class NativeRegistrySpec extends AnyFunSuite {

  lazy val spark = SparkSessionFixture.spark

  private val udfNames =
    Set("pdf_extract_text", "pdf_page_count", "pdf_char_count", "pdf_err_code", "simhash64")

  test("register twice on one session replaces no function") {
    val s = spark.newSession()
    val events = LogCapture.during {
      NativeRegistry.register(s)
      NativeRegistry.register(s)
    }
    val replaced = events.map(_.getMessage.getFormattedMessage)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }

  test("the extension injects exactly the names register installs, UDFs included") {
    val injected = scala.collection.mutable.ArrayBuffer[String]()
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          f: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += f._1.funcName
        super.injectFunction(f)
      }
    }
    new GraftSparkExtensions().apply(ext)

    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().map(_.funcName).toSet
    NativeRegistry.register(s)
    val installed = registry.listFunction().map(_.funcName).toSet -- before

    assert(injected.size == injected.toSet.size, injected)
    assert(installed == injected.toSet)
    assert(udfNames.subsetOf(installed), installed)
    assert(installed.size == 13, installed)
  }

  test("the UDF names keep their null and error semantics") {
    val s = spark.newSession()
    NativeRegistry.register(s)
    val r = s.sql(
      """SELECT pdf_extract_text(CAST(NULL AS BINARY)) AS t_null,
        |  pdf_extract_text(CAST('junk' AS BINARY)) AS t_junk,
        |  pdf_page_count(CAST(NULL AS BINARY)) AS p_null,
        |  pdf_char_count(CAST('junk' AS BINARY)) AS c_junk,
        |  pdf_err_code(CAST('junk' AS BINARY)) AS e_junk,
        |  simhash64(CAST(NULL AS STRING)) AS h_null,
        |  simhash64('a b c d e f g') AS h""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getInt(2) == -1 && r.getLong(3) == -1L)
    assert(r.getString(4) == NativeFns.extract("junk".getBytes("UTF-8")).errCode)
    assert(r.getString(4).nonEmpty)
    assert(r.getLong(5) == NativeFns.simhash(null))
    assert(r.getLong(6) == NativeFns.simhash("a b c d e f g"))
  }
}
