package graft

import graft.operators.Formatters
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Value-identity pin for the run-formatter kernel (RunTagsExpr):
  * `formatRuns` must produce EXACTLY the rows and schema of the
  * expression-cascade formatter it replaced, frozen as golden data
  * (`golden/run_tags_legacy.txt`) before that formatter was deleted,
  * on tag maps covering every branch of the
  * lifecycle/uses/grooming/name/boolean rules — including the edge
  * shapes that made the expression forms subtle: empty-string values
  * (JS falsiness), NULL map values (absent-key semantics), multi-key
  * name collection with binary key sorting and first-occurrence
  * distinct, ref-prefix separator variants, trailing split empties.
  */
class RunTagsSpec extends SparkSpec {

  private val tagMaps: Seq[Map[String, String]] = Seq(
    // lifecycle 0: abandoned special case
    Map("piste:type" -> "downhill", "piste:abandoned" -> "yes"),
    // lifecycle 1: prefixed-only (base absent)
    Map("proposed:piste:type" -> "Downhill;Nordic"),
    // prefixed present for several states: first state in order wins
    Map("construction:piste:type" -> "nordic",
      "abandoned:piste:type" -> "downhill"),
    // lifecycle 2: value-is-state, value from tags[state]
    Map("piste:type" -> "disused", "disused" -> "nordic;junk"),
    // value-is-state with the state key ABSENT -> null value
    Map("piste:type" -> "proposed"),
    // value-is-state with empty-string state value (JS falsiness)
    Map("piste:type" -> "abandoned", "abandoned" -> ""),
    // dropped: base value demolished
    Map("piste:type" -> "demolished"),
    // dropped: bare removed=yes beats everything
    Map("piste:type" -> "downhill", "removed" -> "yes"),
    Map("piste:type" -> "downhill", "razed" -> "yes"),
    // base present non-state: prefixed keys ignored
    Map("piste:type" -> "downhill", "proposed:piste:type" -> "junk"),
    // bare state=yes fires only on yes
    Map("piste:type" -> "downhill", "construction" -> "no"),
    Map("piste:type" -> "downhill", "construction" -> "yes"),
    // uses parsing: case, whitespace, junk, duplicates, trailing empty
    Map("piste:type" -> " Downhill ; NORDIC ;junk;downhill;"),
    Map("piste:type" -> ""),
    Map("piste:type" -> ";;"),
    // difficulty valid/invalid + backcountry grooming default
    Map("piste:type" -> "downhill", "piste:difficulty" -> "expert"),
    Map("piste:type" -> "downhill", "piste:difficulty" -> "bogus"),
    Map("piste:type" -> "downhill", "piste:difficulty" -> "freeride",
      "piste:grooming" -> "junk"),
    // grooming: ';' -> '+' normalization, classic+skating combination
    Map("piste:type" -> "nordic", "piste:grooming" -> "classic;skating"),
    Map("piste:type" -> "nordic", "piste:grooming" -> "skating;classic"),
    Map("piste:type" -> "nordic", "piste:grooming" -> "classic+skating"),
    Map("piste:type" -> "nordic", "piste:grooming" -> "classic"),
    Map("piste:type" -> "nordic", "piste:grooming" -> "no"),
    Map("piste:type" -> "nordic", "piste:grooming" -> "junk;stuff;more"),
    Map("piste:type" -> "nordic", "piste:grooming" -> ""),
    // gladed: tag priority then natural/landuse fallback
    Map("piste:type" -> "downhill", "piste:gladed" -> "no",
      "gladed" -> "yes", "natural" -> "wood"),
    Map("piste:type" -> "downhill", "gladed" -> "maybe",
      "natural" -> "wood"),
    Map("piste:type" -> "downhill", "landuse" -> "forest"),
    // oneway: tag then downhill default; nordic gets null
    Map("piste:type" -> "downhill"),
    Map("piste:type" -> "nordic"),
    Map("piste:type" -> "downhill", "piste:oneway" -> "no",
      "oneway" -> "yes"),
    // patrolled / snowmaking / snowfarming / tunnel / lit
    Map("piste:type" -> "downhill", "piste:patrolled" -> "junk",
      "patrolled" -> "yes"),
    Map("piste:type" -> "downhill", "piste:snowmaking" -> "yes",
      "piste:snowfarming" -> "no", "tunnel" -> "anything",
      "piste:lit" -> "yes", "lit" -> "no"),
    // ref selection order
    Map("piste:type" -> "downhill", "ref" -> "D", "loc_ref" -> "C",
      "piste:ref" -> "B", "piste:loc_ref" -> "A"),
    Map("piste:type" -> "downhill", "ref" -> "D", "piste:ref" -> "B"),
    // name: multi-key sorted collection, distinct, fallback root
    Map("piste:type" -> "downhill", "piste:name" -> "Zed",
      "piste:name:xx" -> "Alpha", "name" -> "ignored"),
    Map("piste:type" -> "downhill", "name:b" -> "Two", "name:a" -> "One",
      "name" -> "Root"),
    Map("piste:type" -> "downhill", "name:b" -> "Dup", "name:a" -> "Dup"),
    Map("piste:type" -> "downhill", "name" -> ""),
    // ref-prefix strip variants
    Map("piste:type" -> "downhill", "ref" -> "R1", "name" -> "R1 - Foo"),
    Map("piste:type" -> "downhill", "ref" -> "R1", "name" -> "R1- Foo"),
    Map("piste:type" -> "downhill", "ref" -> "R1", "name" -> "R1-Foo"),
    Map("piste:type" -> "downhill", "ref" -> "R1", "name" -> "R1 Foo"),
    Map("piste:type" -> "downhill", "ref" -> "R1", "name" -> "R1Foo"),
    Map("piste:type" -> "downhill", "ref" -> "R9", "name" -> "R1 - Foo"),
    Map("piste:type" -> "downhill", "ref" -> "a.c", "name" -> "a.c - X"),
    // website / wikidata first-value
    Map("piste:type" -> "downhill", "website" -> "https://x",
      "wikidata" -> "Q5;Q999"),
    Map("piste:type" -> "downhill", "wikidata" -> "Q5"),
    Map("piste:type" -> "downhill", "wikidata" -> ""),
    // NULL map values behave as absent keys
    Map("piste:type" -> "downhill", "piste:grooming" -> null,
      "gladed" -> null, "tunnel" -> null, "name" -> null,
      "wikidata" -> null),
    // empty map and unicode
    Map.empty[String, String],
    Map("piste:type" -> "DOWNHILL", "piste:name" -> "Çà-Piste ÉTÉ",
      "ref" -> "Çà"))

  private def inputDf = {
    val rows = tagMaps.zipWithIndex.map { case (m, i) =>
      Row(i.toLong, m, Seq(Seq(1.0, 2.0, 3.0), Seq(1.1, 2.1, 3.1)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(
        StructField("way_id", LongType),
        StructField("tags", MapType(StringType, StringType)),
        StructField("coords",
          ArrayType(ArrayType(DoubleType))))))
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("kernel formatRuns matches the legacy expression cascade row-for-row") {
    // `column<TAB>name<TAB>type json` lines, then `row<TAB>text` lines
    // sorted by text, written from the legacy formatter on tagMaps
    val golden = Golden.lines("run_tags_legacy.txt")
    val kernel = Formatters.formatRuns(inputDf)
    val columns = golden.filter(_.startsWith("column\t"))
      .map(_.split("\t")).map { case Array(_, n, t) => (n, t) }
    assert(kernel.schema.map(f => (f.name, f.dataType.json)) ==
      columns, s"schema drifted:\n${kernel.schema}\nlegacy $columns")
    val k = collectSorted(kernel)
    val l = golden.filter(_.startsWith("row\t")).map(_.stripPrefix("row\t"))
    assert(k.size == l.size, s"row count ${k.size} vs ${l.size}")
    k.zip(l).foreach { case (a, b) => assert(a == b, s"\nkernel $a\nlegacy $b") }
  }

  test("default formatRuns plans the kernel") {
    val kplan = Formatters.formatRuns(inputDf)
      .queryExecution.optimizedPlan.toString
    assert(kplan.toLowerCase.contains("runtags"), s"kernel missing:\n$kplan")
  }
}
