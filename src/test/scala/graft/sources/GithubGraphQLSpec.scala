package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The GraphQL client boundary (github.py:45-112): query documents carry
  * the reference's exact selection set, and the response decoder handles
  * full, partial, and error responses as data.
  */
class GithubGraphQLSpec extends SparkTestBase {
  import spark.implicits._

  test("query documents carry the reference's selection set and variables") {
    for (field <- Seq("owner { login }", "name", "isInOrganization", "url",
        "description", "createdAt", "updatedAt", "defaultBranchRef { name }",
        "latestRelease { tag { name } }", "licenseInfo { spdxId }",
        "repositoryTopics(first: 10) { nodes { topic { name } } }",
        "isArchived", "forkCount", "stargazerCount"))
      assert(GithubGraphQL.projectQuery.contains(field), field)
    assert(GithubGraphQL.projectQuery.contains("$owner: String!"))
    assert(GithubGraphQL.projectQuery.contains("$name: String!"))
    assert(GithubGraphQL.projectQuery.contains(
      "rateLimit { limit cost remaining resetAt }"))
    assert(GithubGraphQL.projectsPageQuery.contains("$batchSize: Int!"))
    assert(GithubGraphQL.projectsPageQuery.contains(
      "pageInfo { hasNextPage endCursor }"))
    // request body is canonical JSON with the variables attached
    val req = GithubGraphQL.projectRequest("iop-alliance", "OpenKnowHow")
    val parsed = graft.tables.Json.parse(req).asInstanceOf[graft.tables.Json.JObj]
    assert(parsed.get("variables").isDefined)
    assert(req.contains("\"owner\": \"iop-alliance\"") ||
      req.contains("\"owner\":\"iop-alliance\""))
  }

  test("full response decodes to flat typed columns (the S4/J3 dimension)") {
    val json =
      """{"data": {"repository": {
        |  "owner": {"login": "oshw"}, "name": "ventilator",
        |  "isInOrganization": true,
        |  "url": "https://github.com/oshw/ventilator",
        |  "description": "An open ventilator",
        |  "createdAt": "2020-03-01T00:00:00Z",
        |  "updatedAt": "2024-01-02T03:04:05Z",
        |  "defaultBranchRef": {"name": "main"},
        |  "latestRelease": {"tag": {"name": "v1.2"}},
        |  "licenseInfo": {"spdxId": "CERN-OHL-S-2.0"},
        |  "repositoryTopics": {"nodes": [
        |    {"topic": {"name": "open-hardware"}}, {"topic": {"name": "medical"}}]},
        |  "isArchived": false, "forkCount": 42, "stargazerCount": 777},
        | "rateLimit": {"limit": 5000, "cost": 1, "remaining": 4998,
        |               "resetAt": "2024-01-02T04:00:00Z"}}}""".stripMargin
    val row = GithubGraphQL.parseProjectResponses(
      Seq(json).toDF("json"), "json").collect().head
    assert(row.getAs[String]("owner") == "oshw")
    assert(row.getAs[String]("name") == "ventilator")
    assert(row.getAs[Boolean]("is_in_organization"))
    assert(row.getAs[String]("default_branch") == "main")
    assert(row.getAs[String]("latest_release") == "v1.2")
    assert(row.getAs[String]("license_spdx") == "CERN-OHL-S-2.0")
    assert(row.getAs[scala.collection.Seq[String]]("topics").toSeq == Seq("open-hardware", "medical"))
    assert(!row.getAs[Boolean]("is_archived"))
    assert(row.getAs[Long]("fork_count") == 42L)
    assert(row.getAs[Long]("stargazer_count") == 777L)
    assert(row.getAs[Int]("rl_remaining") == 4998)
    assert(row.getAs[String]("error") == null)
  }

  test("partial and error responses decode as data, never task failures") {
    val partial = """{"data": {"repository": {"owner": {"login": "x"},
      |"name": "bare"}, "rateLimit": {"limit": 5000, "cost": 1,
      |"remaining": 1, "resetAt": "t"}}}""".stripMargin
    val errored = """{"errors": [{"message": "Could not resolve to a Repository"}]}"""
    val rows = GithubGraphQL.parseProjectResponses(
      Seq(partial, errored).toDF("json"), "json")
      .orderBy(col("name").desc_nulls_last).collect()
    val p = rows(0)
    assert(p.getAs[String]("name") == "bare")
    assert(p.getAs[String]("default_branch") == null)
    assert(p.getAs[String]("license_spdx") == null)
    assert(p.getAs[scala.collection.Seq[String]]("topics").isEmpty)
    val e = rows(1)
    assert(e.getAs[String]("error").contains("Could not resolve"))
    assert(e.getAs[String]("owner") == null)
    // an EMPTY errors array (servers do send it) must yield a null error
    // column, not an ANSI INVALID_ARRAY_INDEX task failure
    val emptyErrors = """{"data": null, "errors": []}"""
    val ee = GithubGraphQL.parseProjectResponses(
      Seq(emptyErrors).toDF("json"), "json").collect()(0)
    assert(ee.getAs[String]("error") == null)
    assert(ee.getAs[String]("owner") == null)
  }

  test("decoded default_branch drives the RepoEnrich coalesce; rateLimit " +
      "maps onto the R1 window budget the pacer enforces") {
    // the decode output is the lookup dimension: join back like RepoEnrich
    val responses = Seq(
      """{"data": {"repository": {"owner": {"login": "a"}, "name": "r1",
        |"defaultBranchRef": {"name": "develop"}},
        |"rateLimit": {"limit": 5000, "cost": 1, "remaining": 9, "resetAt": "t"}}}""".stripMargin)
      .toDF("json")
    val dim = GithubGraphQL.parseProjectResponses(responses, "json")
      .select(col("owner"), col("name").as("repo"), col("default_branch"))
    val frontier = Seq(("a", "r1", null: String), ("a", "r1", "v2"))
      .toDF("owner", "repo", "ref")
    val enriched = frontier.join(broadcast(dim), Seq("owner", "repo"), "left_outer")
      .withColumn("ref", coalesce(col("ref"), col("default_branch")))
      .select("ref").as[String].collect().sorted
    assert(enriched.toSeq == Seq("develop", "v2"))

    val pol = GithubGraphQL.primaryPoliteness(
      graft.fetch.FetchStage.defaultPoliteness("github.com"),
      hourlyPointLimit = 2)
    assert(pol.windowMs == 3600000L && pol.budgetRequests == 2)
    // the mapped budget actually paces the fetch stage: the 3rd request
    // sleeps to the window reset
    val tasks = (1 to 3).map(i => graft.fetch.FetchTask(s"github.com/u$i",
      "github.com", i.toLong, 1, i.toLong, 0L, 0L, 0L, false)).toDS()
    val out = graft.fetch.FetchStage.run(spark, tasks, Map("github.com" -> pol),
      outcome = _ => graft.fetch.FetchStage.Outcome("ok", 0))
      .orderBy("pos").collect().map(_.scheduled_ms).toSeq
    assert(out == Seq(0L, 5000L, 3600000L))
  }
}
