package graft

import graft.SparkTestBase

/** The SparkSessionExtensions surface: the custom Catalyst Expression and
  * the custom TypedImperativeAggregate are reachable from plain SQL.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("canonical_unit_path usable from SQL (custom Expression via extensions)") {
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT canonical_unit_path(url) AS p FROM VALUES
        |  ('https://www.thingiverse.com/thing:3062487'),
        |  ('https://github.com/o/r/blob/main/okh.toml'),
        |  ('not a url') AS t(url)""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows(0) == "thingiverse.com/306/3062487")
    assert(rows(1) == "github.com/o/r/main/okh.toml")
    assert(rows(2) == null) // errors-as-data: unparseable → null
  }

  test("bloom_filter_agg usable from SQL (custom aggregate via extensions)") {
    GraftExtensions.register(spark)
    spark.range(1, 1001).selectExpr("id % 4 AS bucket", "id * 31 AS h")
      .createOrReplaceTempView("seen_keys")
    val filters = spark.sql(
      "SELECT bucket, bloom_filter_agg(h, 4096, 0.01) AS bloom FROM seen_keys GROUP BY bucket")
      .collect()
      .map(r => r.getLong(0) -> graft.frontier.SeenFilters.bloom.codec.fromBytes(r.getAs[Array[Byte]](1)))
      .toMap
    assert(filters.size == 4)
    (1L to 1000L).foreach(i =>
      assert(filters(i % 4).mightContainLong(i * 31), s"false negative for $i"))
    // default-args form also resolves
    assert(spark.sql("SELECT bloom_filter_agg(h) FROM seen_keys").collect().length == 1)
  }
}
