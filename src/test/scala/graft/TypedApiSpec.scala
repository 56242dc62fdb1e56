package graft

import graft.api.TypedApi

/** The typed Dataset edge: encoder round trips and schema enforcement. */
class TypedApiSpec extends SparkSpec {

  test("typed loaders round-trip through encoders with correct values") {
    val docs = TypedApi.documents(spark, sfTiny).collect()
    assert(docs.nonEmpty)
    assert(docs.forall(d => d.n_chars == d.text.length))
    val embs = TypedApi.embeddings(spark, sfTiny).collect()
    assert(embs.forall(_.embedding.length == 64))
  }

  test("typed near-dup pairs match the untyped plan") {
    val typed = TypedApi.nearDupPairs(spark, sfTiny, 0.35).collect()
      .map(p => (p.id1, p.id2, p.sim)).toSet
    val untyped = operators.Similarity
      .nearDupPairs(spark, sfTiny, 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(typed == untyped && typed.nonEmpty)
  }

  test("typed filter/map stays correct (API-edge usage)") {
    import SparkSpecBase.spark.implicits._
    val langs = TypedApi.documents(spark, sfTiny)
      .filter(_.lang == "en").map(_.doc_id).collect().toSet
    val expected = Tables.documents(spark, sfTiny)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(langs == expected)
  }
}
