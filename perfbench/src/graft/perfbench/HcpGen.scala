package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One packer build of a bucket's latest version. */
final case class PackerBuild(id: String, createdAt: String, updatedAt: String)

/** One bucket of an HCP-Packer-shaped document, with the fields the nine
  * `HcpIntegration` transforms read. */
final case class Bucket(id: String, name: String, createdAt: String,
    updatedAt: String, resourceName: String, org: String, project: String,
    versionId: String, versionName: String, builds: Vector[PackerBuild])

/** The graph a document should leave in the sink: node properties keyed by
  * label then `external_id` (columns sorted by name), and edge pairs keyed
  * by edge table. */
final case class Graph(nodes: Map[String, Map[String, Seq[(String, String)]]],
    edges: Map[String, Set[(String, String)]])

/** Seeded generator of HCP-Packer documents and of the changes between
  * them. Everything the benchmark checks is derived from this model, never
  * from the engine: the expected `(created, deleted)` of every function of a
  * pass, the expected sink graph, and the count of rows that really changed.
  *
  * Identifiers come from a counter, so a removed entity is never reborn
  * under the same key and every replaced version or build is a new node. */
final class HcpGen(seed: Long) {

  private val rng = new SplittableRandom(seed)
  private var nextId = 0L
  private var clock = 1700000000L // epoch seconds, advanced per change

  private def fresh(prefix: String): String = {
    nextId += 1
    f"$prefix-$nextId%08d"
  }

  private def stamp(): String = {
    clock += 1 + rng.nextInt(3600)
    java.time.Instant.ofEpochSecond(clock).toString
  }

  /** Projects per organization and buckets per project are fixed ratios of
    * the bucket count, so the org/project node functions stay small. */
  private var orgs = 0
  private var projects = 0

  private def newVersion(): (String, String, Vector[PackerBuild]) = {
    val vid = fresh("ver")
    val builds = Vector.fill(1 + rng.nextInt(4)) {
      val c = stamp()
      PackerBuild(fresh("bld"), c, stamp())
    }
    (vid, s"v${1 + rng.nextInt(99)}.${rng.nextInt(10)}", builds)
  }

  private def newBucket(): Bucket = {
    val id = fresh("bkt")
    val p = rng.nextInt(projects)
    val (vid, vname, builds) = newVersion()
    val created = stamp()
    Bucket(id, s"image-$id", created, created, s"packer/$id",
      f"org-${p % orgs}%04d", f"prj-$p%05d", vid, vname, builds)
  }

  /** The initial document with `n` buckets. */
  def initial(n: Int): Vector[Bucket] = {
    projects = math.max(1, n / 50)
    orgs = math.max(1, projects / 20)
    Vector.fill(n)(newBucket())
  }

  /** `k` distinct indexes out of `n` (partial Fisher-Yates). */
  private def pick(n: Int, k: Int): Array[Int] = {
    val idx = Array.tabulate(n)(identity)
    var i = 0
    while (i < k) {
      val j = i + rng.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i += 1
    }
    idx.take(k)
  }

  /** One churn step: `replace` buckets get a new latest version (new
    * version and build ids) and a bumped `updated-at`, `remove` buckets
    * vanish, `add` new buckets appear at the end of the document. */
  def churn(doc: Vector[Bucket], replace: Int, remove: Int,
      add: Int): Vector[Bucket] = {
    val chosen = pick(doc.size, replace + remove)
    val replaced = chosen.take(replace).toSet
    val removed = chosen.drop(replace).toSet
    val kept = doc.indices.iterator.filterNot(removed).map { i =>
      val b = doc(i)
      if (!replaced(i)) b
      else {
        val (vid, vname, builds) = newVersion()
        b.copy(updatedAt = stamp(), versionId = vid, versionName = vname,
          builds = builds)
      }
    }.toVector
    kept ++ Vector.fill(add)(newBucket())
  }
}

object HcpGen {

  /** Source rows per pass, summed over the nine functions' batches. */
  def batchRows(doc: Vector[Bucket]): Long = {
    val builds = doc.map(_.builds.size.toLong).sum
    val orgs = doc.map(_.org).distinct.size
    val projects = doc.map(_.project).distinct.size
    val orgProject = doc.map(b => (b.org, b.project)).distinct.size
    // buckets, orgs, projects, version, packer_build nodes; then the
    // org_project, project_bucket, bucket_version, version_build edges
    doc.size + orgs + projects + doc.size + builds +
      orgProject + doc.size + doc.size + builds
  }

  private def q(s: String): String = "\"" + s + "\""

  /** The document body the HTTP source serves — deterministic bytes. */
  def json(doc: Vector[Bucket]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(doc.size * 560 + 16)
    sb.append("{\"buckets\":[")
    var first = true
    doc.foreach { b =>
      if (!first) sb.append(',')
      first = false
      sb.append("{\"id\":").append(q(b.id))
        .append(",\"name\":").append(q(b.name))
        .append(",\"created-at\":").append(q(b.createdAt))
        .append(",\"updated-at\":").append(q(b.updatedAt))
        .append(",\"resource_name\":").append(q(b.resourceName))
        .append(",\"location\":{\"organization_id\":").append(q(b.org))
        .append(",\"project_id\":").append(q(b.project))
        .append("},\"latest_version\":{\"id\":").append(q(b.versionId))
        .append(",\"name\":").append(q(b.versionName))
        .append(",\"builds\":[")
      var fb = true
      b.builds.foreach { bl =>
        if (!fb) sb.append(',')
        fb = false
        sb.append("{\"id\":").append(q(bl.id))
          .append(",\"created_at\":").append(q(bl.createdAt))
          .append(",\"updated_at\":").append(q(bl.updatedAt)).append('}')
      }
      sb.append("]}}")
    }
    sb.append("]}").toString.getBytes(UTF_8)
  }

  /** The node function, its label, and the relation tables, as
    * `HcpIntegration.spec` declares them. */
  val nodeFunctions: Seq[(String, String)] = Seq("buckets" -> "bucket",
    "orgs" -> "org", "projects" -> "project", "version" -> "version",
    "packer_build" -> "packer_build")
  val relationFunctions: Seq[(String, String)] = Seq(
    "org_project" -> "has__org__project",
    "project_bucket" -> "has__project__bucket",
    "bucket_version" -> "creates__bucket__version",
    "version_build" -> "creates__version__packer_build")

  def graph(doc: Vector[Bucket]): Graph = {
    def props(kv: (String, String)*): Seq[(String, String)] = kv.sortBy(_._1)
    val builds = doc.flatMap(b => b.builds.map(b.versionId -> _))
    val nodes = Map(
      "bucket" -> doc.map(b => b.id -> props("external_id" -> b.id,
        "name" -> b.name, "created_at" -> b.createdAt,
        "updated_at" -> b.updatedAt, "resource_name" -> b.resourceName)).toMap,
      "org" -> doc.map(b => b.org -> props("external_id" -> b.org)).toMap,
      "project" -> doc.map(b =>
        b.project -> props("external_id" -> b.project)).toMap,
      "version" -> doc.map(b => b.versionId -> props(
        "external_id" -> b.versionId, "name" -> b.versionName,
        "latest" -> "true")).toMap,
      "packer_build" -> builds.map { case (_, bl) => bl.id -> props(
        "external_id" -> bl.id, "created_at" -> bl.createdAt,
        "updated_at" -> bl.updatedAt) }.toMap)
    val edges = Map(
      "has__org__project" -> doc.map(b => (b.org, b.project)).toSet,
      "has__project__bucket" -> doc.map(b => (b.project, b.id)).toSet,
      "creates__bucket__version" -> doc.map(b => (b.id, b.versionId)).toSet,
      "creates__version__packer_build" ->
        builds.map { case (v, bl) => (v, bl.id) }.toSet)
    Graph(nodes, edges)
  }

  /** Expected `SyncDriver.run` result for a pass from `before` to `after`:
    * node functions report (created or updated, deleted) keys; passthrough
    * relations report (batch rows, 0). */
  def expectedCounts(before: Graph, after: Vector[Bucket],
      afterGraph: Graph): Map[String, (Long, Long)] = {
    val nodes = nodeFunctions.map { case (fn, label) =>
      val (b, a) = (before.nodes(label), afterGraph.nodes(label))
      val created = a.count { case (k, p) => !b.get(k).contains(p) }
      val deleted = b.keysIterator.count(k => !a.contains(k))
      fn -> (created.toLong, deleted.toLong)
    }
    val builds = after.map(_.builds.size.toLong).sum
    val rels = Seq(
      "org_project" -> afterGraph.edges("has__org__project").size.toLong,
      "project_bucket" -> after.size.toLong,
      "bucket_version" -> after.size.toLong,
      "version_build" -> builds).map { case (fn, n) => fn -> (n, 0L) }
    (nodes ++ rels).toMap
  }

  /** Rows that really changed between two graphs: node adds, updates and
    * removes plus edge adds and removes. */
  def deltaRows(before: Graph, after: Graph): Long = {
    val n = after.nodes.keysIterator.map { label =>
      val (b, a) = (before.nodes(label), after.nodes(label))
      a.count { case (k, p) => !b.get(k).contains(p) } +
        b.keysIterator.count(k => !a.contains(k))
    }.sum
    val e = after.edges.keysIterator.map { t =>
      val (b, a) = (before.edges(t), after.edges(t))
      (a -- b).size + (b -- a).size
    }.sum
    n.toLong + e
  }

  val emptyGraph: Graph = graph(Vector.empty)

  /** Order-independent fingerprint of one table: row count and the sum of
    * per-row 64-bit hashes of its canonical text. */
  def fingerprint(rows: Iterator[String]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      n += 1
      val b = r.getBytes(UTF_8)
      h += (scala.util.hashing.MurmurHash3.bytesHash(b, 0x5bd1e995).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593) & 0xffffffffL)
    }
    (n, h)
  }

  def nodeRow(props: Seq[(String, String)]): String =
    props.map { case (k, v) => s"$k=$v" }.mkString("\u0001")

  def edgeRow(a: String, b: String): String = s"$a\u0001$b"
}
