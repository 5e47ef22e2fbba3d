package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Declarative pipeline catalog — the Scala analog of the reference's
  * `IntegrationItem` / `Function` model (reference
  * `internal/model/model.go:16-31`, `main.go:21-82`).
  *
  * A [[FunctionSpec]] is (name, kind, transform): the transform is a pure
  * `DataFrame => DataFrame` (the template analog), the kind decides
  * reconcile mode and sink path. Functions are declared in dependency order
  * — node functions before the relation functions that reference them
  * (reference `main.go:26-80`; edge MATCH requires endpoints to exist) —
  * and the driver honors that ordering (§3.2 topological dependency).
  */
sealed trait FunctionKind
/** Node function: reconciled against snapshot state, upsert+delete sink. */
case class CreateNode(label: String) extends FunctionKind
/** Relation function. Default (`reconcile = false`) is the faithful
  * reference behavior: passthrough diff, merge-only sink — which leaks
  * stale edges whose endpoints both survive (reference `recon.go:42-44` +
  * no relationship delete at `neo4j.go:119-120`; SURVEY R4 fine print).
  * `reconcile = true` is the engine's opt-in fix: edges are snapshot-diffed
  * on the (a_id, b_id) pair key like nodes, so vanished edges are deleted
  * even when their endpoints remain. */
case class CreateRelation(relType: String, labelA: String, labelB: String,
    reconcile: Boolean = false)
  extends FunctionKind

case class FunctionSpec(
    name: String,
    kind: FunctionKind,
    transform: DataFrame => DataFrame)

/** Source descriptor. The reference accepts only `Type == "http"`
  * (`model.go:37-44`) with an unused `InputJsonPath` hinting at a file
  * source; the engine's natural source is any `DataFrame` of documents —
  * a JSON path, a parquet scan, or a streaming source. */
case class IntegrationSpec(
    name: String,
    load: SparkSession => DataFrame,
    functions: Seq[FunctionSpec]) {
  // A function's name keys its state table and its result, so two
  // functions of one name would share state and one result would be lost;
  // rejected here, before any read or write.
  locally {
    val names = functions.map(_.name)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, s"integration $name declares function " +
      s"name(s) ${repeated.mkString(", ")} more than once")
  }

  /** Key analog of `type:url` (`model.go:37-44`). */
  def key: String = name
}

object HcpIntegration {
  import graft.operators.HcpTransforms._

  /** The reference's one concrete integration (`main.go:21-82`): 5 node
    * functions + 4 relation functions over an HCP-Packer-shaped document. */
  def spec(name: String, load: SparkSession => DataFrame): IntegrationSpec =
    IntegrationSpec(name, load, Seq(
      FunctionSpec("buckets", CreateNode("bucket"), bucketNodes),
      FunctionSpec("orgs", CreateNode("org"), orgNodes),
      FunctionSpec("projects", CreateNode("project"), projectNodes),
      FunctionSpec("version", CreateNode("version"), versionNodes),
      FunctionSpec("packer_build", CreateNode("packer_build"), buildNodes),
      FunctionSpec("org_project", CreateRelation("has", "org", "project"),
        orgProjectEdges),
      FunctionSpec("project_bucket", CreateRelation("has", "project", "bucket"),
        projectBucketEdges),
      FunctionSpec("bucket_version", CreateRelation("creates", "bucket", "version"),
        bucketVersionEdges),
      FunctionSpec("version_build", CreateRelation("creates", "version",
        "packer_build"), versionBuildEdges)))
}
