package graft.functions

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native [[Tokens]] expression is the function
  * `filter(split(lower(text), "\\s+"), t -> t <> "")` it replaces: equal
  * rows with ICU case mappings on and off, in codegen and interpreted
  * evaluation, on the sf0.01 documents and on an edge fixture; and a
  * string with another collation is rejected at analysis. */
class TokensSpec extends SparkSpec {

  private val IcuKey = "spark.sql.icu.caseMappings.enabled"
  private lazy val sf001 = s"${new java.io.File(sf).getParent}/sf0.01"

  /** Empty, whitespace-only and null text, every `\s` character, NBSP and
    * other non-`\s` spaces, İ (lowers to two chars), ß, final sigma, the
    * title-case digraph ǅ, a surrogate-pair emoji, and mixed-case ASCII. */
  private lazy val edge: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Seq[String](
      "", " ", " \t\n\u000B\f\r ", null,
      "a\tb\u000Bc\fd\re\nf  g",
      "a b c d e\u001Cf g\u0085h",
      "İSTANBUL İi", "STRASSE Straße ß",
      "ΟΔΟΣ ΟΔΟΣ. Σ ΣΑΣ", "ǅemal ǄEMAL ǆ",
      "smile 😀 ok😀ok 😀",
      "  Hello, World!  MiXeD CaSe\t"
    ).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }: _*),
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def old(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  private def tokensOf(docs: DataFrame, f: Column => Column): Seq[(Long, Option[Seq[String]])] =
    docs.select(col("doc_id"), f(col("text"))).collect().toSeq
      .map(r => (r.getLong(0), Option(r.getSeq[String](1)).map(_.toSeq)))
      .sortBy(_._1)

  private def assertSameTokens(docs: DataFrame): Unit =
    for (icu <- Seq("true", "false"); codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      withConf(IcuKey -> icu, "spark.sql.codegen.factoryMode" -> codegen,
        "spark.sql.codegen.wholeStage" -> (codegen == "CODEGEN_ONLY").toString) {
        val got = tokensOf(docs, Tokens.tokens)
        val want = tokensOf(docs, old)
        assert(got.nonEmpty)
        assert(got == want, s"icu=$icu $codegen: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      }
    }

  test("edge fixture: the native tokens equal filter(split(lower(·))), ICU on and off") {
    assertSameTokens(edge)
  }

  test("edge fixture: null stays null, empty and whitespace-only text have no tokens") {
    val got = tokensOf(edge, Tokens.tokens).toMap
    assert(got(3L).isEmpty)
    assert(Seq(0L, 1L, 2L).forall(i => got(i).contains(Nil)))
    assert(got(4L).contains(Seq("a", "b", "c", "d", "e", "f", "g")))
    // NBSP, em space, U+001C and NEL are not `\s`: they stay inside tokens
    assert(got(5L).contains(Seq("a b", "c d", "e\u001Cf", "g\u0085h")))
    assert(got(11L).contains(Seq("hello,", "world!", "mixed", "case")))
  }

  test("sf0.01 documents: the native tokens equal filter(split(lower(·))), ICU on and off") {
    assertSameTokens(Tables.documents(spark, sf001))
  }

  test("the result type is the replaced expression's") {
    val t = edge.select(Tokens.tokens(col("text")).as("t"), old(col("text")).as("o")).schema
    assert(t("t").dataType == t("o").dataType)
    assert(t("t").nullable == t("o").nullable)
  }

  test("a string with a collation other than UTF8_BINARY is rejected at analysis") {
    val e = intercept[AnalysisException] {
      edge.select(Tokens.tokens(collate(col("text"), "UTF8_LCASE")))
    }
    assert(e.getMessage.contains("UTF8_BINARY"), e.getMessage)
    intercept[AnalysisException](edge.select(Tokens.tokens(col("doc_id"))))
  }
}
