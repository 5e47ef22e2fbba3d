package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Schemas

/** The FIXTURES.md §A golden document: 2 buckets sharing one org/project;
  * bucket 2's version has 2 builds. */
object HcpFixture {
  val json: String =
    """{"buckets": [
      |  {"id": "b1", "name": "base-img", "created-at": "2024-01-01T00:00:00Z",
      |   "updated-at": "2024-06-01T00:00:00Z", "resource_name": "packer/b1",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v1", "name": "v1.0",
      |     "builds": [{"id": "bl1", "created_at": "2024-06-01T00:00:00Z",
      |                 "updated_at": "2024-06-01T01:00:00Z"}]}},
      |  {"id": "b2", "name": "app-img", "created-at": "2024-02-01T00:00:00Z",
      |   "updated-at": "2024-07-01T00:00:00Z", "resource_name": "packer/b2",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v2", "name": "v2.3",
      |     "builds": [{"id": "bl2", "created_at": "2024-07-01T00:00:00Z",
      |                 "updated_at": "2024-07-01T01:00:00Z"},
      |                {"id": "bl3", "created_at": "2024-07-02T00:00:00Z",
      |                 "updated_at": "2024-07-02T01:00:00Z"}]}}
      |]}""".stripMargin.replaceAll("\n", " ")

  /** The churn pass after [[json]]: b1 (with v1 and bl1) vanishes, b2 is
    * renamed, and b3 arrives under a new org and project with v3 and bl4 —
    * node deletes, updates and creates, plus new pairs in every edge
    * table. */
  val churnJson: String =
    """{"buckets": [
      |  {"id": "b2", "name": "app-img-2", "created-at": "2024-02-01T00:00:00Z",
      |   "updated-at": "2024-08-01T00:00:00Z", "resource_name": "packer/b2",
      |   "location": {"organization_id": "org1", "project_id": "proj1"},
      |   "latest_version": {"id": "v2", "name": "v2.3",
      |     "builds": [{"id": "bl2", "created_at": "2024-07-01T00:00:00Z",
      |                 "updated_at": "2024-07-01T01:00:00Z"},
      |                {"id": "bl3", "created_at": "2024-07-02T00:00:00Z",
      |                 "updated_at": "2024-07-02T01:00:00Z"}]}},
      |  {"id": "b3", "name": "db-img", "created-at": "2024-03-01T00:00:00Z",
      |   "updated-at": "2024-08-01T00:00:00Z", "resource_name": "packer/b3",
      |   "location": {"organization_id": "org2", "project_id": "proj2"},
      |   "latest_version": {"id": "v3", "name": "v3.0",
      |     "builds": [{"id": "bl4", "created_at": "2024-08-01T00:00:00Z",
      |                 "updated_at": "2024-08-01T01:00:00Z"}]}}
      |]}""".stripMargin.replaceAll("\n", " ")

  val emptyJson = """{"buckets": []}"""

  def doc(spark: SparkSession, body: String = json): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.hcpDocument).json(Seq(body).toDS)
  }
}
