package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ChromaWhere

/** Unit pins for the chromadb where-dict → Column translator: every
  * operator of the 0.4.6 grammar against a hand-checkable frame, the
  * implicit-AND sibling rule, nesting, both where_document forms, and
  * eager rejection of malformed input. (End-to-end composition with
  * the IVF search path is gated by q116.)
  */
class ChromaWhereSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private lazy val df: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "alpha", 1.5, true,  "the quick fox"),
      (2L, "beta",  2.5, false, "lazy dog"),
      (3L, "gamma", 3.5, true,  "quick brown dog"),
      (4L, "alpha", 4.5, false, "nothing here")
    ).toDF("id", "name", "score", "flag", "text")
  }

  private def ids(json: String): Seq[Long] =
    df.filter(ChromaWhere.where(json)).select("id")
      .collect().map(_.getLong(0)).toSeq.sorted

  private def docIds(json: String): Seq[Long] =
    df.filter(ChromaWhere.whereDocument(json, col("text"))).select("id")
      .collect().map(_.getLong(0)).toSeq.sorted

  test("equality shorthand and $eq/$ne") {
    assert(ids("""{"name": "alpha"}""") == Seq(1L, 4L))
    assert(ids("""{"name": {"$eq": "beta"}}""") == Seq(2L))
    assert(ids("""{"name": {"$ne": "alpha"}}""") == Seq(2L, 3L))
    assert(ids("""{"flag": true}""") == Seq(1L, 3L))
  }

  test("numeric comparisons: $gt/$gte/$lt/$lte on longs and doubles") {
    assert(ids("""{"id": {"$gt": 2}}""") == Seq(3L, 4L))
    assert(ids("""{"id": {"$gte": 2}}""") == Seq(2L, 3L, 4L))
    assert(ids("""{"score": {"$lt": 2.5}}""") == Seq(1L))
    assert(ids("""{"score": {"$lte": 2.5}}""") == Seq(1L, 2L))
  }

  test("$in / $nin") {
    assert(ids("""{"name": {"$in": ["alpha", "gamma"]}}""") == Seq(1L, 3L, 4L))
    assert(ids("""{"id": {"$nin": [1, 4]}}""") == Seq(2L, 3L))
  }

  test("$and / $or, nesting, and the sibling implicit-AND rule") {
    assert(ids("""{"$and": [{"name": "alpha"}, {"flag": true}]}""") == Seq(1L))
    assert(ids("""{"$or": [{"id": 1}, {"id": {"$gte": 4}}]}""") == Seq(1L, 4L))
    assert(ids("""{"$or": [{"$and": [{"flag": true}, {"score": {"$gt": 2}}]},
                           {"name": "beta"}]}""") == Seq(2L, 3L))
    // chroma rule: sibling keys of one object conjoin
    assert(ids("""{"name": "alpha", "flag": false}""") == Seq(4L))
  }

  test("where_document: $contains / $not_contains / composition") {
    assert(docIds("""{"$contains": "quick"}""") == Seq(1L, 3L))
    assert(docIds("""{"$not_contains": "dog"}""") == Seq(1L, 4L))
    assert(docIds("""{"$and": [{"$contains": "quick"},
                               {"$contains": "dog"}]}""") == Seq(3L))
    assert(docIds("""{"$or": [{"$contains": "fox"},
                              {"$contains": "nothing"}]}""") == Seq(1L, 4L))
  }

  test("malformed input is rejected at translation time") {
    assert(intercept[IllegalArgumentException] {
      ChromaWhere.where("""{"id": {"$regex": "x"}}""")
    }.getMessage.contains("$regex"))
    assert(intercept[IllegalArgumentException] {
      ChromaWhere.where("""{"$not": [{"id": 1}]}""")
    }.getMessage.contains("$not"))
    intercept[IllegalArgumentException] {
      ChromaWhere.where("""{"$and": []}""")
    }
    intercept[IllegalArgumentException] {
      ChromaWhere.where("""{}""")
    }
    intercept[IllegalArgumentException] {
      ChromaWhere.where("""[1, 2]""")
    }
    intercept[IllegalArgumentException] {
      ChromaWhere.whereDocument("""{"$contains": 7}""", col("text"))
    }
    // a two-operator field filter is ambiguous in chroma's grammar
    intercept[IllegalArgumentException] {
      ChromaWhere.where("""{"id": {"$gt": 1, "$lt": 3}}""")
    }
  }
}
