package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** GitHub GraphQL client parity (reference fetcher/github.py:45-112): the
  * QUERY document the reference sends per repo (and per projects page) and
  * the typed decode of its response — the previously-declared client
  * boundary, minus the HTTP socket (zero-egress: transports are injected,
  * exactly like the fetch stage's outcome seam).
  *
  * Spark-first decode: the response JSON parses with `from_json` against an
  * explicit schema (codegen'd, no UDF), nested fields project to flat
  * typed columns, and the repo-info dimension broadcasts back onto the
  * frontier through the existing `RepoEnrich` join. The `rateLimit` block
  * (the API's primary budget: hourly point allowance, reset timestamp —
  * github.py:148-157,229) maps onto the SAME R1 window-budget model the
  * fetch stage already enforces.
  */
object GithubGraphQL {

  /** The repo-metadata selection set (github.py:53-83 `PROJECT_FIELDS` —
    * field names are the public GitHub GraphQL schema's).
    */
  val ProjectFields: String =
    """owner { login }
      |name
      |isInOrganization
      |url
      |description
      |createdAt
      |updatedAt
      |defaultBranchRef { name }
      |latestRelease { tag { name } }
      |licenseInfo { spdxId }
      |repositoryTopics(first: 10) { nodes { topic { name } } }
      |isArchived
      |forkCount
      |stargazerCount""".stripMargin

  /** The primary-budget introspection rider on every query
    * (github.py:45-52 `RATELIMIT_FIELDS`).
    */
  val RateLimitFields: String =
    "rateLimit { limit cost remaining resetAt }"

  private def indent(s: String, n: Int): String =
    s.linesIterator.map(" " * n + _).mkString("\n")

  /** Single-repo metadata query (github.py:103-112 `QUERY_PROJECT`). */
  val projectQuery: String =
    s"""query ($$owner: String!, $$name: String!) {
       |  repository(owner: $$owner, name: $$name) {
       |${indent(ProjectFields, 4)}
       |  }
       |  ${RateLimitFields}
       |}""".stripMargin

  /** Cursor-paged projects query (github.py:85-102 `QUERY_PROJECTS`). */
  val projectsPageQuery: String =
    s"""query ($$batchSize: Int!, $$cursor: String!) {
       |  repositories(first: $$batchSize, after: $$cursor, privacy: PUBLIC) {
       |    result {
       |      pageInfo { hasNextPage endCursor }
       |      edges { node {
       |${indent(ProjectFields, 8)}
       |      } }
       |    }
       |  }
       |  ${RateLimitFields}
       |}""".stripMargin

  /** GraphQL request body for `projectQuery` (the POST payload shape every
    * GraphQL server accepts: query + variables), canonical JSON.
    */
  def projectRequest(owner: String, name: String): String = {
    import graft.tables.Json._
    JObj(Vector(
      "query" -> JStr(projectQuery),
      "variables" -> JObj(Vector(
        "owner" -> JStr(owner), "name" -> JStr(name))))).toString
  }

  /** Response schema for `projectQuery` (incl. the standard GraphQL
    * `errors` channel). `from_json` against this is the whole decoder —
    * codegen'd, null-safe on every optional nested field.
    */
  val responseSchema: StructType = DataType.fromDDL(
    """data STRUCT<
      |  repository: STRUCT<
      |    owner: STRUCT<login: STRING>,
      |    name: STRING,
      |    isInOrganization: BOOLEAN,
      |    url: STRING,
      |    description: STRING,
      |    createdAt: STRING,
      |    updatedAt: STRING,
      |    defaultBranchRef: STRUCT<name: STRING>,
      |    latestRelease: STRUCT<tag: STRUCT<name: STRING>>,
      |    licenseInfo: STRUCT<spdxId: STRING>,
      |    repositoryTopics: STRUCT<nodes: ARRAY<STRUCT<topic: STRUCT<name: STRING>>>>,
      |    isArchived: BOOLEAN,
      |    forkCount: BIGINT,
      |    stargazerCount: BIGINT
      |  >,
      |  rateLimit: STRUCT<`limit`: INT, cost: INT, remaining: INT, resetAt: STRING>
      |>,
      |errors ARRAY<STRUCT<message: STRING>>""".stripMargin
    .replaceAll("\n", " ")).asInstanceOf[StructType]

  /** Decode a DataFrame of raw response JSON into flat repo-info columns
    * (the S4/J3 dimension) + the rate-limit budget columns. Failed or
    * error-carrying responses surface as `error` (data, never task
    * failure — the fetch-stage convention).
    */
  def parseProjectResponses(responses: DataFrame, jsonCol: String): DataFrame = {
    val p = from_json(col(jsonCol), responseSchema)
    val repo = p.getField("data").getField("repository")
    responses
      .withColumn("owner", repo.getField("owner").getField("login"))
      .withColumn("name", repo.getField("name"))
      .withColumn("is_in_organization", repo.getField("isInOrganization"))
      .withColumn("url", repo.getField("url"))
      .withColumn("description", repo.getField("description"))
      .withColumn("created_at", repo.getField("createdAt"))
      .withColumn("updated_at", repo.getField("updatedAt"))
      .withColumn("default_branch",
        repo.getField("defaultBranchRef").getField("name"))
      .withColumn("latest_release",
        repo.getField("latestRelease").getField("tag").getField("name"))
      .withColumn("license_spdx", repo.getField("licenseInfo").getField("spdxId"))
      .withColumn("topics", coalesce(
        transform(repo.getField("repositoryTopics").getField("nodes"),
          n => n.getField("topic").getField("name")),
        array().cast("array<string>")))
      .withColumn("is_archived", repo.getField("isArchived"))
      .withColumn("fork_count", repo.getField("forkCount"))
      .withColumn("stargazer_count", repo.getField("stargazerCount"))
      .withColumn("rl_remaining",
        p.getField("data").getField("rateLimit").getField("remaining"))
      .withColumn("rl_reset_at",
        p.getField("data").getField("rateLimit").getField("resetAt"))
      // try_element_at: an EMPTY errors array must yield null, not an ANSI
      // INVALID_ARRAY_INDEX task failure — errors are data here
      .withColumn("error",
        try_element_at(p.getField("errors"), lit(1)).getField("message"))
  }

  /** The primary GraphQL budget as an R1 politeness window: hourly point
    * allowance (`rateLimit.limit`) over a 1 h window — the same
    * window-budget mechanism the fetch stage enforces (github.py:148-157;
    * rate_limit.py:15-34).
    */
  def primaryPoliteness(base: graft.fetch.FetchStage.Politeness,
      hourlyPointLimit: Int): graft.fetch.FetchStage.Politeness =
    base.copy(budgetRequests = hourlyPointLimit, windowMs = 3600000L)
}
