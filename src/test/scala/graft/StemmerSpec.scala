package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PorterStem, PorterStemmer}

/** Pins [[PorterStemmer]] against the algorithm's PUBLISHED example
  * vectors — the worked examples of Porter 1980 (each step's rule
  * table) and widely reproduced entries of the official sample
  * vocabulary, including both documented departures (step 2
  * bli->ble and logi->log). DuckDB here cannot load its fts
  * extension (zero egress), so these vectors are the stem kernel's
  * correctness gate; the q219 oracle consumes the dumped (token,
  * stem) mapping and re-derives everything downstream of it.
  */
class StemmerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  // (input, expected stem) — published Porter vectors
  private val vectors = Seq(
    // step 1a (plurals)
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
    "caress" -> "caress", "cats" -> "cat",
    // step 1b (-eed / -ed / -ing) and its fix-ups
    "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
    "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
    "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
    "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
    "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
    "filing" -> "file", "controlling" -> "control", "rolling" -> "roll",
    "dying" -> "dy",
    // step 1c (y -> i)
    "happy" -> "happi", "sky" -> "sky",
    // step 2 (double suffix), incl. both documented departures
    "relational" -> "relat", "conditional" -> "condit",
    "rational" -> "ration", "valency" -> "valenc", "hesitancy" -> "hesit",
    "digitizer" -> "digit", "possibly" -> "possibl", "operator" -> "oper",
    "feudalism" -> "feudal", "decisiveness" -> "decis",
    "hopefulness" -> "hope", "callousness" -> "callous",
    "formality" -> "formal", "sensitivity" -> "sensit",
    "sensibility" -> "sensibl", "archaeology" -> "archaeolog",
    // step 3
    "triplicate" -> "triplic", "formative" -> "form",
    "formalize" -> "formal", "electricity" -> "electr",
    "electrical" -> "electr", "hopeful" -> "hope", "goodness" -> "good",
    // step 4
    "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
    "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
    "adjustable" -> "adjust", "defensible" -> "defens",
    "irritant" -> "irrit", "replacement" -> "replac",
    "adjustment" -> "adjust", "dependent" -> "depend",
    "adoption" -> "adopt", "homologou" -> "homolog",
    "communism" -> "commun", "activate" -> "activ",
    "angularity" -> "angular", "effective" -> "effect",
    "bowdlerize" -> "bowdler",
    // step 5
    "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
    // length <= 2 unchanged
    "as" -> "as", "is" -> "is", "a" -> "a",
    // fixture-adjacent forms the q219 corpus exercises
    "streaming" -> "stream", "streams" -> "stream", "stream" -> "stream",
    "merges" -> "merg", "merge" -> "merg", "merged" -> "merg",
    "windows" -> "window", "window" -> "window")

  test("porter stem matches the published example vectors") {
    vectors.foreach { case (in, want) =>
      assert(PorterStemmer.stem(in) == want,
        s"stem($in) = ${PorterStemmer.stem(in)}, want $want")
    }
  }

  test("the codegen expression equals the static method on every vector") {
    import spark.implicits._
    val planSide = vectors.map(_._1).toDF("w")
      .select(col("w"), PorterStem.porterStem(col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    vectors.foreach { case (in, _) =>
      assert(planSide(in) == PorterStemmer.stem(in),
        s"plan/driver drift for '$in'")
    }
    // null flows through, empty string unchanged
    val edge = Seq[(java.lang.Long, String)]((1L, null), (2L, ""))
      .toDF("i", "w")
      .select(col("i"), PorterStem.porterStem(col("w")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(edge(1L) == null && edge(2L) == "")
  }

  test("stemming is deterministic and idempotent-stable on the fixture") {
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), PorterStem.porterStem(col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(toks.nonEmpty)
    toks.foreach { case (w, s) =>
      assert(s == PorterStemmer.stem(w), s"drift on fixture token '$w'")
      assert(s.nonEmpty, s"a non-empty token must not stem to empty: '$w'")
    }
  }
}
