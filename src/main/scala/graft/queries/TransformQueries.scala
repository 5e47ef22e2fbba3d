package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{GraphAlgos, Reconcile, Transforms}

import SparkEntry._

/** SURVEY §2.2 transform algebra (explode, projection, casts, the template
  * operators), with the graph-algorithm queries over the mod-300
  * interaction graph and the last-wins upsert declared under the same
  * section. Each query is declared once, with its plan and its check;
  * [[SparkEntry]] derives the battery views from these lists. */
private[graft] object TransformQueries {
  lazy val all: Seq[Query] = Seq(
    // ===== §2.2 transform algebra =====
    Query("explode_array", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("v").cast("double") * 1000000).cast("long").as("v_micro")),
      Oracle("""SELECT vec_id, pos - 1 AS pos,
        | CAST(round(CAST(v AS DOUBLE)*1000000, 0) AS BIGINT) AS v_micro
        | FROM (SELECT vec_id, unnest(embedding) AS v,
        |   generate_subscripts(embedding, 1) AS pos FROM embeddings)""".stripMargin)),

    Query("explode_nested", (s, dir) => {
      // build nested array<struct> then correlated-flatten it back (T2):
      // parent key stays in scope next to each exploded child.
      val nested = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_linenumber"), col("l_quantity")))
          .as("lines"))
      nested.select(col("l_orderkey"), explode(col("lines")).as("ln"))
        .select(col("l_orderkey"), col("ln.l_linenumber").as("line_no"),
          cents(col("ln.l_quantity")).as("qty_cents"))
    },
      Oracle("""SELECT l_orderkey, l_linenumber AS line_no,
        | CAST(round(l_quantity*100, 0) AS BIGINT) AS qty_cents FROM lineitem""".stripMargin)),

    // T3 projection + rename: the template algebra's select-and-alias
    // shape over the orders table.
    Query("project_rename", (s, dir) =>
      Transforms.projectRename(t(s, dir, "orders"),
        "o_orderkey" -> "order_id", "o_custkey" -> "customer_id",
        "o_orderstatus" -> "status"),
      Oracle("""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
        | o_orderstatus AS status FROM orders""".stripMargin)),

    Query("nested_field", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          struct(col("user_id").as("uid"), col("event_type").as("et")).as("s"))
        .select(col("event_id"), col("s.uid").as("uid"), col("s.et").as("et")),
      Oracle("SELECT event_id, user_id AS uid, event_type AS et FROM events")),

    Query("const_column", (s, dir) =>
      t(s, dir, "documents").select(col("lang").as("external_id"),
        lit("true").as("latest")).distinct(),
      Oracle("SELECT DISTINCT lang AS external_id, 'true' AS latest FROM documents")),

    Query("edge_pairs", (s, dir) =>
      Transforms.edgePairs(t(s, dir, "orders"),
        col("o_custkey"), col("o_orderkey")),
      Oracle("""SELECT CAST(o_custkey AS VARCHAR) AS a_id,
        | CAST(o_orderkey AS VARCHAR) AS b_id FROM orders""".stripMargin)),

    Query("pos_size", (s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        (size(col("embedding")) - 1).cast("long").as("last_idx")),
      Oracle("""SELECT vec_id, len(embedding) AS n_dims,
        | len(embedding) - 1 AS last_idx FROM embeddings""".stripMargin)),

    // PageRank over the synced supplier→part→order→customer chain graph
    // (type-tagged ids keep the key spaces disjoint). 3 fixed iterations
    // in integer micros — bit-exact on both engines, see GraphAlgos.
    Query("pagerank", (s, dir) =>
      graft.operators.GraphAlgos.pageRankPrepped(rankGraph(s, dir),
        iters = 3),
      Oracle(
        // three unrolled integer-micro iterations — aggregates aren't allowed
        // in a recursive CTE term, and unrolling keeps every step plain SQL
        """WITH edges AS (
          |  SELECT l_suppkey*4 AS src, l_partkey*4+1 AS dst FROM lineitem
          |  UNION
          |  SELECT l_partkey*4+1, l_orderkey*4+2 FROM lineitem
          |  UNION
          |  SELECT o_orderkey*4+2, o_custkey*4+3 FROM orders),
          |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
          |nodes AS (SELECT src AS id FROM edges
          |          UNION SELECT dst FROM edges),
          |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
          |c1 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
          |       JOIN r0 r ON e.src = r.id JOIN outd o ON e.src = o.src
          |       GROUP BY 1),
          |r1 AS (SELECT n.id,
          |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c1 c ON n.id = c.id),
          |c2 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
          |       JOIN r1 r ON e.src = r.id JOIN outd o ON e.src = o.src
          |       GROUP BY 1),
          |r2 AS (SELECT n.id,
          |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c2 c ON n.id = c.id),
          |c3 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
          |       JOIN r2 r ON e.src = r.id JOIN outd o ON e.src = o.src
          |       GROUP BY 1),
          |r3 AS (SELECT n.id,
          |         CAST(150000 + COALESCE((850 * c.s) // 1000, 0) AS BIGINT) AS r
          |       FROM nodes n LEFT JOIN c3 c ON n.id = c.id)
          |SELECT id, r AS rank_micro FROM r3""".stripMargin)),

    // personalized PageRank: random walk with restart to the sparse
    // supplier seed set over the same 4-strata graph — proximity-to-seeds
    // scoring, same integer-micro discipline as pagerank
    // ([[GraphAlgos.personalizedPageRank]]).
    Query("ppr", (s, dir) => {
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 50 === 0)
        .select((col("s_suppkey") * 4).as("id"))
      GraphAlgos.personalizedPageRankPrepped(rankGraph(s, dir), seeds,
        "id", iters = 3)
    },
      Oracle("""WITH edges AS (
        |  SELECT l_suppkey*4 AS src, l_partkey*4+1 AS dst FROM lineitem
        |  UNION
        |  SELECT l_partkey*4+1, l_orderkey*4+2 FROM lineitem
        |  UNION
        |  SELECT o_orderkey*4+2, o_custkey*4+3 FROM orders),
        |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS id FROM edges
        |          UNION SELECT dst FROM edges),
        |sd AS (SELECT DISTINCT s_suppkey*4 AS id FROM supplier
        |       WHERE s_suppkey % 50 = 0),
        |nz AS (SELECT n.id,
        |         CASE WHEN sd.id IS NULL THEN 0 ELSE 1 END AS sf
        |       FROM nodes n LEFT JOIN sd ON sd.id = n.id),
        |r0 AS (SELECT id, CAST(sf * 1000000 AS BIGINT) AS r FROM nz),
        |c1 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r0 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c1 c ON n.id = c.id),
        |c2 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r1 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c2 c ON n.id = c.id),
        |c3 AS (SELECT e.dst AS id, SUM(r.r // o.od) AS s FROM edges e
        |       JOIN r2 r ON e.src = r.id JOIN outd o ON e.src = o.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.id,
        |         CAST(n.sf * 150000 + COALESCE((850 * c.s) // 1000, 0)
        |           AS BIGINT) AS r
        |       FROM nz n LEFT JOIN c3 c ON n.id = c.id)
        |SELECT id, r AS ppr_micro FROM r3""".stripMargin)),

    // Per-node triangle counts over a bounded "interaction" graph derived
    // from lineitem: nodes are part/supplier residues mod 300 (one shared
    // id space), and a deterministic arithmetic keep-filter
    // ((a*31+b) % 7 = 0) sparsifies to ~14% of slots — so edge count
    // saturates near 6.3k at ANY scale factor and triangle enumeration
    // stays bounded while the scan still reads every row. The same
    // expressions run verbatim in the oracle.
    Query("triangle_count", (s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.triangleCounts(g, "a", "b")
    },
      Oracle("""WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |tri AS (
        |  SELECT x.a AS a, x.b AS b, y.b AS c FROM g x
        |  JOIN g y ON x.b = y.a
        |  JOIN g z ON z.a = x.a AND z.b = y.b)
        |SELECT id, COUNT(*) AS n_tri FROM (
        |  SELECT a AS id FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY id""".stripMargin)),

    // cohesive-core extraction: bounded k-core peeling (k=15, 4 rounds —
    // at sf0.01 the cascade 759→162→149 edges reaches its fixpoint inside
    // the bound) over the same mod-300 interaction graph
    // ([[GraphAlgos.kCore]]; oracle = the rounds unrolled as CTEs).
    Query("kcore", (s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.kCore(g, "a", "b", k = 15, rounds = 4)
    },
      Oracle("""WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |u0 AS (SELECT a AS s, b AS d FROM g
        |       UNION ALL SELECT b AS s, a AS d FROM g),
        |k1 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u0 GROUP BY 1)
        |       WHERE deg >= 15),
        |u1 AS (SELECT u.s, u.d FROM u0 u
        |       JOIN k1 x ON u.s = x.s JOIN k1 y ON u.d = y.s),
        |k2 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u1 GROUP BY 1)
        |       WHERE deg >= 15),
        |u2 AS (SELECT u.s, u.d FROM u1 u
        |       JOIN k2 x ON u.s = x.s JOIN k2 y ON u.d = y.s),
        |k3 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u2 GROUP BY 1)
        |       WHERE deg >= 15),
        |u3 AS (SELECT u.s, u.d FROM u2 u
        |       JOIN k3 x ON u.s = x.s JOIN k3 y ON u.d = y.s),
        |k4 AS (SELECT s FROM (SELECT s, COUNT(*) AS deg FROM u3 GROUP BY 1)
        |       WHERE deg >= 15),
        |u4 AS (SELECT u.s, u.d FROM u3 u
        |       JOIN k4 x ON u.s = x.s JOIN k4 y ON u.d = y.s)
        |SELECT s AS id, COUNT(*) AS deg FROM u4 GROUP BY 1""".stripMargin)),

    // cohesive-subgraph refinement: bounded k-truss peeling (k=3,
    // 2 rounds) over the mod-300 interaction graph — edges in zero
    // triangles peel away, survivors carry their final-graph triangle
    // support ([[GraphAlgos.kTruss]]; oracle = the rounds unrolled, same
    // contract as kcore).
    Query("ktruss", (s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.kTruss(g, "a", "b", k = 3, rounds = 2)
    },
      Oracle("""WITH g1 AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |t1 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g1 x
        |  JOIN g1 y ON x.b = y.a
        |  JOIN g1 z ON z.a = x.a AND z.b = y.b),
        |s1 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t1
        |    UNION ALL SELECT y, z FROM t1
        |    UNION ALL SELECT x, z FROM t1) GROUP BY 1, 2),
        |g2 AS (SELECT g1.a, g1.b FROM g1 JOIN s1 USING (a, b)
        |  WHERE s1.n >= 1),
        |t2 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g2 x
        |  JOIN g2 y ON x.b = y.a
        |  JOIN g2 z ON z.a = x.a AND z.b = y.b),
        |s2 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t2
        |    UNION ALL SELECT y, z FROM t2
        |    UNION ALL SELECT x, z FROM t2) GROUP BY 1, 2),
        |g3 AS (SELECT g2.a, g2.b FROM g2 JOIN s2 USING (a, b)
        |  WHERE s2.n >= 1),
        |t3 AS (SELECT x.a AS x, x.b AS y, y.b AS z FROM g3 x
        |  JOIN g3 y ON x.b = y.a
        |  JOIN g3 z ON z.a = x.a AND z.b = y.b),
        |s3 AS (SELECT a, b, COUNT(*) AS n FROM (
        |    SELECT x AS a, y AS b FROM t3
        |    UNION ALL SELECT y, z FROM t3
        |    UNION ALL SELECT x, z FROM t3) GROUP BY 1, 2)
        |SELECT g3.a, g3.b, CAST(COALESCE(s3.n, 0) AS BIGINT) AS n_tri
        |FROM g3 LEFT JOIN s3 USING (a, b)""".stripMargin)),

    // incremental join-view maintenance: the orders⋈lineitem view
    // refreshed from stored sides + insert deltas by the delta algebra
    // ΔJ = ΔA⋈B_new ∪ A_old⋈ΔB ([[Reconcile.maintainJoinView]]) — the
    // oracle is the MONOLITHIC join of the unioned sides, so the
    // incremental result must reproduce it exactly (each delta row
    // matched once, no cross-term double count).
    Query("ivm_join", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("ext_cents"))
      val aOld = o.filter(col("o_orderkey") % 4 =!= 0)
      val dA = o.filter(col("o_orderkey") % 4 === 0)
      val bOld = li.filter((col("l_orderkey") * 7 + col("l_linenumber"))
        % 3 =!= 0).drop("l_linenumber")
      val dB = li.filter((col("l_orderkey") * 7 + col("l_linenumber"))
        % 3 === 0).drop("l_linenumber")
      Reconcile.maintainJoinView(aOld, dA, bOld, dB,
          "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("ext_cents")).as("rev_cents"))
    },
      Oracle("""SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin)),

    // effective diameter (the canonical HyperBall read-out): smallest
    // hop t where the approximate neighborhood function reaches 90% of
    // its horizon value — derived from the same sketch fixpoint as
    // reach_hll (rows-only for the same reason; the spec's error bound
    // transfers).
    Query("eff_diameter", (s, dir) => {
      val g = modCanonicalE(s, dir)
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
      val nf = graft.operators.GraphAlgos.neighborhoodFunction(
        e, "src", "dst", maxHops = 4, p = 8)
      val horizon = nf.agg(max(col("nf_est")).as("nf_max"))
      nf.crossJoin(broadcast(horizon))
        .filter(col("nf_est") * 10 >= col("nf_max") * 9)
        .agg(min(col("hop")).as("eff_diameter_hop"),
          max(col("nf_max")).as("nf_max"))
    },
      Oracle(XxhOracleSql.effDiameterSql)),

    // DIRECTED strongly-connected components (the directed sibling of
    // dedup_clusters' undirected CC): transitive closure by path
    // DOUBLING to fixpoint (count-stable, ≤8 rounds — each round
    // squares reachable path length), SCC membership = mutual
    // reachability, id = min mutual partner. Closure state is the
    // bounded pair table (≤ |V|² on the mod-300 graph) — the exact tier
    // by design; census: component count, largest, singletons.
    Query("scc_census", (s, dir) => {
      val (_, sid, _) = sccDag(s, dir)
      sid.groupBy(col("scc")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_sccs"), max(col("sz")).as("max_scc"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
    },
      Oracle("""WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |sz AS (SELECT scc, COUNT(*) AS n FROM sid GROUP BY 1)
        |SELECT COUNT(*) AS n_sccs, CAST(MAX(n) AS BIGINT) AS max_scc,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons
        |FROM sz""".stripMargin)),

    // SCC condensation: collapse the directed graph to its component
    // DAG — distinct inter-SCC edges, plus a SELF-VERIFYING invariant
    // column: mutual inter-SCC edge pairs must be ZERO (two mutually
    // reachable components would be one component; a nonzero value
    // falsifies the SCC computation itself).
    Query("condensation_dag", (s, dir) => {
      val (_, _, dag) = sccDag(s, dir)
      dag.agg(count(lit(1)).as("n_dag_edges"),
          countDistinct(col("scc_u")).as("n_source_sccs"))
        .crossJoin(broadcast(dag.as("x").join(
            dag.select(col("scc_u").as("ru"), col("scc_v").as("rv")),
            col("x.scc_u") === col("rv") && col("x.scc_v") === col("ru"))
          .agg(count(lit(1)).as("n_mutual_must_be_zero"))))
    },
      Oracle("""WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |dag AS (SELECT DISTINCT su.scc AS scc_u, sv.scc AS scc_v
        |  FROM g JOIN sid su ON g.src = su.id
        |    JOIN sid sv ON g.dst = sv.id
        |  WHERE su.scc <> sv.scc),
        |mu AS (SELECT COUNT(*) AS n_mutual_must_be_zero
        |  FROM dag x JOIN dag y
        |    ON x.scc_u = y.scc_v AND x.scc_v = y.scc_u)
        |SELECT COUNT(*) AS n_dag_edges,
        |  CAST(COUNT(DISTINCT scc_u) AS BIGINT) AS n_source_sccs,
        |  CAST(COALESCE(MAX(mu.n_mutual_must_be_zero), 0) AS BIGINT)
        |    AS n_mutual_must_be_zero
        |FROM dag, mu""".stripMargin)),

    // critical path over the condensation DAG: longest path length by
    // (node, length) fixpoint enumeration — finite BECAUSE the DAG is
    // acyclic (condensation_dag's invariant), bounded by depth; the
    // scheduling-analytics read of the component structure.
    Query("dag_longest", (s, dir) => {
      val (_, _, dag) = sccDag(s, dir)
      // longest path ending at v, by Bellman-style MAX relaxation — one
      // row per node (not the (v, len) pair enumeration), so state is
      // O(|V|) and rounds = critical-path depth. Finite BECAUSE the DAG
      // is acyclic; non-convergence within the bound fails LOUDLY (a
      // cycle would relax forever — silently truncating would report a
      // wrong longest path).
      var d = dag.select(col("scc_v").as("v"), lit(1L).as("len"))
        .groupBy(col("v")).agg(max(col("len")).as("len"))
        .localCheckpoint()
      var total = d.agg(coalesce(sum(col("len")), lit(0L)))
        .head().getLong(0)
      var iter = 0
      var done = false
      while (!done && iter < 64) {
        val d2 = d.union(d.join(dag, col("v") === col("scc_u"))
            .select(col("scc_v").as("v"), (col("len") + 1).as("len")))
          .groupBy(col("v")).agg(max(col("len")).as("len"))
          .localCheckpoint()
        val t2 = d2.agg(coalesce(sum(col("len")), lit(0L)))
          .head().getLong(0)
        done = t2 == total
        d = d2; total = t2; iter += 1
      }
      require(done, s"dag_longest did not converge in 64 rounds — " +
        "condensation DAG is not acyclic or depth exceeds the bound")
      d.agg(max(col("len")).as("longest_path_edges"),
        countDistinct(col("v")).as("n_reachable_nodes"))
    },
      Oracle("""WITH RECURSIVE g AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE l_partkey % 300 <> l_suppkey % 300
        |    AND ((l_partkey % 300) * 31 + l_suppkey % 300) % 7 = 0),
        |r(src, dst) AS (
        |  SELECT src, dst FROM g
        |  UNION
        |  SELECT r.src, g.dst FROM r JOIN g ON r.dst = g.src),
        |mut AS (SELECT r1.src AS u, r1.dst AS v
        |  FROM r r1 JOIN r r2 ON r1.src = r2.dst AND r1.dst = r2.src),
        |nodes AS (SELECT DISTINCT src AS id FROM g
        |  UNION SELECT dst FROM g),
        |sid AS (SELECT n.id,
        |    LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc
        |  FROM nodes n LEFT JOIN mut m ON m.u = n.id GROUP BY n.id),
        |dag AS (SELECT DISTINCT su.scc AS scc_u, sv.scc AS scc_v
        |  FROM g JOIN sid su ON g.src = su.id
        |    JOIN sid sv ON g.dst = sv.id
        |  WHERE su.scc <> sv.scc),
        |pl(v, len) AS (
        |  SELECT scc_v, 1 FROM dag
        |  UNION
        |  SELECT d.scc_v, p.len + 1 FROM pl p JOIN dag d ON d.scc_u = p.v)
        |SELECT CAST(MAX(len) AS BIGINT) AS longest_path_edges,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_reachable_nodes
        |FROM pl""".stripMargin)),

    // exact 2-hop reachability census: per node of the undirected mod-300
    // interaction graph, |ball(v, 2)| (self + neighbors + 2-hop) via pair
    // expansion — one self-join + distinct, the exact tier that witnesses
    // the HLL sketch tier (`reach_hll`) below. Quadratic in ball size by
    // construction, which is exactly why the sketch tier exists.
    Query("reach_2hop", (s, dir) => {
      val g = modCanonicalE(s, dir)
        .distinct()
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val self = e.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"))
      val two = e.as("e1").join(e.as("e2"),
          col("e1.dst") === col("e2.src"))
        .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      self.union(e).union(two).distinct()
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("n_reach2"))
    },
      Oracle("""WITH g AS (SELECT DISTINCT
        |    least(l_partkey % 300, l_suppkey % 300) AS a,
        |    greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |      < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |      + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |e AS (SELECT a AS src, b AS dst FROM g
        |  UNION SELECT b, a FROM g),
        |ball AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, src AS dst FROM e
        |    UNION ALL SELECT src, dst FROM e
        |    UNION ALL SELECT e1.src, e2.dst
        |      FROM e e1 JOIN e e2 ON e1.dst = e2.src))
        |SELECT src AS node, COUNT(*) AS n_reach2 FROM ball GROUP BY 1""".stripMargin)),

    // approximate neighborhood function (HyperBall): per hop 0..3, the
    // estimated Σ_v |ball(v, hop)| over the same graph via per-node HLL
    // registers propagated by element-wise max
    // ([[GraphAlgos.neighborhoodFunction]], native regmax_agg). The 100 TB
    // path for distance statistics — constant state per node where the
    // exact tier above is quadratic. Rows-only: the sketch fixpoint has no
    // SQL twin; OperatorsSpec bounds hop-2 error vs `reach_2hop`'s exact
    // counts.
    Query("reach_hll", (s, dir) => {
      val g = modCanonicalE(s, dir)
      val e = g.select(col("a").as("src"), col("b").as("dst"))
        .union(g.select(col("b").as("src"), col("a").as("dst")))
      graft.operators.GraphAlgos.neighborhoodFunction(
        e, "src", "dst", maxHops = 3, p = 8)
    },
      Oracle(XxhOracleSql.reachHllSql)),

    // hub-mixing diagnostic: degree assortativity (Pearson r over edge
    // endpoint degrees, both orientations) of the same graph, integer
    // micros ([[GraphAlgos.degreeAssortativity]]).
    Query("assortativity", (s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.degreeAssortativity(g, "a", "b")
    },
      Oracle("""WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM g UNION ALL SELECT b FROM g) GROUP BY 1),
        |wd AS (SELECT da.deg AS da, db.deg AS db FROM g
        |  JOIN deg da ON g.a = da.id JOIN deg db ON g.b = db.id),
        |p AS (SELECT da AS x, db AS y FROM wd
        |      UNION ALL SELECT db, da FROM wd),
        |st AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM p)
        |SELECT n AS n_ends,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0 THEN NULL ELSE
        |    CAST(round(CAST(CAST(n AS HUGEINT) * sxy - sx * sx AS DOUBLE)
        |      * 1000000 /
        |      CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 0)
        |      AS BIGINT) END AS r_micro
        |FROM st""".stripMargin)),

    // neighborhood transitivity: local clustering coefficient per node in
    // integer permille over the same graph
    // ([[GraphAlgos.clusteringCoefficients]] — one materialized edge set
    // feeds both the degree aggregate and the wedge-closing join).
    Query("clustering_coeff", (s, dir) => {
      val g = modCanonicalE(s, dir)
      graft.operators.GraphAlgos.clusteringCoefficients(g, "a", "b")
    },
      Oracle("""WITH g AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |                  greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |          < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |         + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |deg AS (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM g UNION ALL SELECT b FROM g) GROUP BY 1),
        |tri AS (
        |  SELECT x.a AS a, x.b AS b, y.b AS c FROM g x
        |  JOIN g y ON x.b = y.a
        |  JOIN g z ON z.a = x.a AND z.b = y.b),
        |tn AS (SELECT id, COUNT(*) AS n_tri FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT d.id, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
        |  CASE WHEN d.deg >= 2 THEN (2000 * COALESCE(t.n_tri, 0))
        |    // (d.deg * (d.deg - 1)) ELSE 0 END AS coeff_permille
        |FROM deg d LEFT JOIN tn t ON d.id = t.id""".stripMargin)),

    // Bounded multi-source BFS over the DIRECTED variant of the same
    // mod-300 interaction graph; sources = node ids ≡ 0 (mod 37), hop =
    // min #edges from any source capped at 4. The cap is what gives the
    // cyclic graph a terminating recursive-CTE oracle twin; the engine
    // side is frontier iteration (GraphAlgos.bfsHops).
    Query("bfs_hops", (s, dir) => {
      val e = modDirectedE(s, dir)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      graft.operators.GraphAlgos.bfsHops(e, "src", "dst",
        nodes.filter(col("id") % 37 === 0), "id", maxHops = 4)
    },
      Oracle(
        // bounded BFS as a recursive CTE: UNION-distinct on (id, hop) pairs
        // + the hop < 4 guard make the recursion finite on the cyclic graph;
        // MIN(hop) then recovers the BFS distance for every distance ≤ 4
        """WITH RECURSIVE e AS (
          |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
          |  FROM lineitem
          |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
          |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          |r(id, hop) AS (
          |  SELECT id, CAST(0 AS BIGINT) AS hop FROM n WHERE id % 37 = 0
          |  UNION
          |  SELECT e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
          |  WHERE r.hop < 4)
          |SELECT id, MIN(hop) AS hop FROM r GROUP BY id""".stripMargin)),

    // node2vec/DeepWalk preprocessing: a deterministic length-4 walk from
    // every node of the mod-300 graph — Knuth-hash neighbor choice over
    // per-node neighbor ranks, so the walk corpus is engine-exact
    // ([[GraphAlgos.randomWalks]]).
    Query("random_walks", (s, dir) => {
      val e = modDirectedE(s, dir)
      GraphAlgos.randomWalks(e, "src", "dst", steps = 4)
    },
      Oracle("""WITH e0 AS (
        |  SELECT DISTINCT l_partkey % 300 AS id, l_suppkey % 300 AS nb
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |adj0 AS (SELECT id, nb FROM e0 UNION SELECT nb, id FROM e0),
        |adj AS (SELECT id, nb,
        |    CAST(row_number() OVER (PARTITION BY id ORDER BY nb)
        |      AS BIGINT) AS rnk,
        |    COUNT(*) OVER (PARTITION BY id) AS deg FROM adj0),
        |w0 AS (SELECT DISTINCT id AS start, CAST(0 AS BIGINT) AS step,
        |    id AS node FROM adj),
        |w1 AS (SELECT w.start, CAST(1 AS BIGINT) AS step, a.nb AS node
        |  FROM w0 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 97) % a.deg + 1),
        |w2 AS (SELECT w.start, CAST(2 AS BIGINT) AS step, a.nb AS node
        |  FROM w1 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 194) % a.deg + 1),
        |w3 AS (SELECT w.start, CAST(3 AS BIGINT) AS step, a.nb AS node
        |  FROM w2 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 291) % a.deg + 1),
        |w4 AS (SELECT w.start, CAST(4 AS BIGINT) AS step, a.nb AS node
        |  FROM w3 w JOIN adj a ON a.id = w.node
        |    AND a.rnk = ((w.start % 2147483647) * 2654435761 + 388) % a.deg + 1)
        |SELECT * FROM w0 UNION ALL SELECT * FROM w1
        |UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
        |UNION ALL SELECT * FROM w4""".stripMargin)),

    // difference-in-differences table: treat = odd users, post = days
    // past the (min+max)/2 midpoint; cell means in milli-cents rounded
    // once, DiD from the ROUNDED means so the headline number is exact
    // integer arithmetic over four audited cells.
    Query("did_table", (s, dir) => {
      val ev = events(s, dir).select((col("user_id") % 2).as("treat"),
        expr("ts DIV 86400000000000").as("day"), cents(col("value")).as("v"))
      val cut = broadcast(ev.agg(
        expr("(MIN(day) + MAX(day)) DIV 2").as("__cut")))
      def cell(t: Int, p: Int, f: Column) = sum(
        when(col("treat") === t && col("post") === p, f).otherwise(0L))
      val g = ev.crossJoin(cut)
        .withColumn("post", (col("day") >= col("__cut")).cast("long"))
        .agg(cell(1, 0, lit(1L)).as("n_t0"), cell(1, 1, lit(1L)).as("n_t1"),
          cell(0, 0, lit(1L)).as("n_c0"), cell(0, 1, lit(1L)).as("n_c1"),
          cell(1, 0, col("v")).as("__st0"), cell(1, 1, col("v")).as("__st1"),
          cell(0, 0, col("v")).as("__sc0"), cell(0, 1, col("v")).as("__sc1"))
      Seq("t0", "t1", "c0", "c1").foldLeft(g) { (acc, c) =>
          acc.withColumn(s"m_$c", expr(
            s"CAST(round(__s$c * 1000.0 / n_$c, 0) AS BIGINT)"))
        }
        .withColumn("did_millicents",
          expr("(m_t1 - m_t0) - (m_c1 - m_c0)"))
        .select("n_t0", "n_t1", "n_c0", "n_c1",
          "m_t0", "m_t1", "m_c0", "m_c1", "did_millicents")
    },
      Oracle("""WITH e AS (SELECT user_id % 2 AS treat,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS v FROM events),
        |cut AS (SELECT (MIN(day) + MAX(day)) // 2 AS c FROM e),
        |p AS (SELECT treat, CASE WHEN day >= cut.c THEN 1 ELSE 0 END
        |    AS post, v FROM e CROSS JOIN cut),
        |g AS (SELECT
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t0,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_t1,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c0,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_c1,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 0 THEN v ELSE 0 END)
        |      AS BIGINT) AS st0,
        |    CAST(SUM(CASE WHEN treat = 1 AND post = 1 THEN v ELSE 0 END)
        |      AS BIGINT) AS st1,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 0 THEN v ELSE 0 END)
        |      AS BIGINT) AS sc0,
        |    CAST(SUM(CASE WHEN treat = 0 AND post = 1 THEN v ELSE 0 END)
        |      AS BIGINT) AS sc1
        |  FROM p),
        |m AS (SELECT n_t0, n_t1, n_c0, n_c1,
        |    CAST(round(st0 * 1000.0 / n_t0, 0) AS BIGINT) AS m_t0,
        |    CAST(round(st1 * 1000.0 / n_t1, 0) AS BIGINT) AS m_t1,
        |    CAST(round(sc0 * 1000.0 / n_c0, 0) AS BIGINT) AS m_c0,
        |    CAST(round(sc1 * 1000.0 / n_c1, 0) AS BIGINT) AS m_c1
        |  FROM g)
        |SELECT n_t0, n_t1, n_c0, n_c1, m_t0, m_t1, m_c0, m_c1,
        |  (m_t1 - m_t0) - (m_c1 - m_c0) AS did_millicents
        |FROM m""".stripMargin)),

    // STL-lite decomposition of the daily count series per type: trend =
    // centered ±3-day RANGE mean (gap-safe), seasonal = per-day-of-week
    // mean deviation, residual = the rest — every component integer
    // milli with one mirrored rounding per level.
    Query("ts_decompose", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir)
        .groupBy(col("event_type").as("et"),
          expr("ts DIV 86400000000000").as("day"))
        .agg(count(lit(1)).as("n"))
      val wT = Window.partitionBy("et").orderBy("day").rangeBetween(-3, 3)
      val wS = Window.partitionBy(col("et"), expr("(day + 4) % 7"))
      d.withColumn("__ts", sum(col("n")).over(wT))
        .withColumn("__tc", count(lit(1)).over(wT))
        .withColumn("trend_milli",
          expr("CAST(round(__ts * 1000.0 / __tc, 0) AS BIGINT)"))
        .withColumn("__dev", col("n") * 1000L - col("trend_milli"))
        .withColumn("__ss", sum(col("__dev")).over(wS))
        .withColumn("__sc", count(lit(1)).over(wS))
        .withColumn("seasonal_milli",
          expr("CAST(round(CAST(__ss AS DOUBLE) / __sc, 0) AS BIGINT)"))
        .withColumn("resid_milli",
          expr("n * 1000 - trend_milli - seasonal_milli"))
        .select("et", "day", "n", "trend_milli", "seasonal_milli",
          "resid_milli")
    },
      Oracle("""WITH d AS (SELECT event_type AS et,
        |    epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT et, day, n,
        |    SUM(n) OVER w AS ts2, COUNT(*) OVER w AS tc
        |  FROM d WINDOW w AS (PARTITION BY et ORDER BY day
        |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tr AS (SELECT et, day, n,
        |    CAST(round(ts2 * 1000.0 / tc, 0) AS BIGINT) AS trend_milli
        |  FROM t),
        |dv AS (SELECT et, day, n, trend_milli,
        |    n * 1000 - trend_milli AS dev FROM tr),
        |se AS (SELECT et, day, n, trend_milli,
        |    CAST(round(CAST(SUM(dev) OVER s AS DOUBLE) /
        |      (COUNT(*) OVER s), 0) AS BIGINT) AS seasonal_milli
        |  FROM dv WINDOW s AS (PARTITION BY et, (day + 4) % 7))
        |SELECT et, day, CAST(n AS BIGINT) AS n, trend_milli,
        |  seasonal_milli,
        |  n * 1000 - trend_milli - seasonal_milli AS resid_milli
        |FROM se""".stripMargin)),

    // landmark closeness centrality: exact BFS distances from the 4
    // landmarks (id ≡ 0 mod 75) over the undirected mod-300 graph, all
    // landmark searches sharing each wave's joins via a (landmark, node)
    // frontier ([[GraphAlgos.closenessCentrality]]).
    Query("closeness_centrality", (s, dir) => {
      val e = modDirectedE(s, dir)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      GraphAlgos.closenessCentrality(e, "src", "dst",
        nodes.filter(col("id") % 75 === 0), "id", maxHops = 4)
    },
      Oracle("""WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |e AS (SELECT src, dst FROM e0
        |      UNION SELECT dst AS src, src AS dst FROM e0),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |r(src, id, hop) AS (
        |  SELECT id, id, CAST(0 AS BIGINT) FROM n WHERE id % 75 = 0
        |  UNION
        |  SELECT r.src, e.dst, r.hop + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.hop < 4),
        |d AS (SELECT src, id, MIN(hop) AS hop FROM r GROUP BY 1, 2)
        |SELECT id, COUNT(*) AS n_landmarks,
        |  CAST(SUM(hop) AS BIGINT) AS total_hops, MIN(hop) AS min_hop
        |FROM d GROUP BY 1""".stripMargin)),

    // deterministic negative-edge sampling for link-prediction training:
    // k=5 hash-chosen non-edges per node over the link_predict graph —
    // bucket-probe candidate generation, no |V|² stage
    // ([[GraphAlgos.negativeSample]]).
    Query("negative_sample", (s, dir) => {
      val g = modCanonicalE(s, dir)
      GraphAlgos.negativeSample(g, "a", "b", k = 5)
    },
      Oracle("""WITH e AS (
        |  SELECT DISTINCT least(l_partkey % 300, l_suppkey % 300) AS a,
        |    greatest(l_partkey % 300, l_suppkey % 300) AS b
        |  FROM lineitem
        |  WHERE least(l_partkey % 300, l_suppkey % 300)
        |      < greatest(l_partkey % 300, l_suppkey % 300)
        |    AND (least(l_partkey % 300, l_suppkey % 300) * 31
        |       + greatest(l_partkey % 300, l_suppkey % 300)) % 7 = 0),
        |n AS (SELECT a AS id FROM e UNION SELECT b FROM e),
        |nb AS (SELECT id, ((id % 2147483647) * 2654435761) % 16 AS bkt FROM n),
        |pr AS (SELECT id AS u, (((id % 2147483647) * 2654435761) % 16 + j) % 16 AS pb
        |       FROM n CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)),
        |c AS (SELECT pr.u, nb.id AS v FROM pr
        |      JOIN nb ON pr.pb = nb.bkt WHERE pr.u <> nb.id),
        |cf AS (SELECT u, v FROM c WHERE NOT EXISTS (
        |    SELECT 1 FROM e
        |    WHERE e.a = least(u, v) AND e.b = greatest(u, v))),
        |r AS (SELECT u, v, row_number() OVER (PARTITION BY u
        |    ORDER BY (((u * 31 + v) % 2147483647) * 2654435761) % 1000000, v) AS rank
        |  FROM cf)
        |SELECT u, v, rank FROM r WHERE rank <= 5""".stripMargin)),

    // Bounded weighted shortest paths (Bellman-Ford, 4 relaxation rounds)
    // over the same directed mod-300 graph with a deterministic per-edge
    // integer weight; sources = node ids ≡ 0 (mod 37). The oracle unrolls
    // the relax rounds — min-aggregates can't appear in a recursive CTE
    // (GraphAlgos.shortestPaths).
    Query("shortest_path", (s, dir) => {
      val e = modDirectedE(s, dir)
        .withColumn("w", (col("src") * 13 + col("dst") * 7) % 97 + 1)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      graft.operators.GraphAlgos.shortestPaths(e, "src", "dst", "w",
        nodes.filter(col("id") % 37 === 0), "id", rounds = 4)
    },
      Oracle("""WITH e AS (
        |  SELECT src, dst, (src * 13 + dst * 7) % 97 + 1 AS w FROM (
        |    SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |    FROM lineitem
        |    WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0)),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |d0 AS (SELECT id, CAST(0 AS BIGINT) AS cost FROM n WHERE id % 37 = 0),
        |d1 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d0 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d0 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d2 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d1 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d1 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d3 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d2 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d2 d JOIN e ON e.src = d.id)
        |  GROUP BY id),
        |d4 AS (SELECT id, MIN(cost) AS cost FROM (
        |  SELECT * FROM d3 UNION ALL
        |  SELECT e.dst, d.cost + e.w FROM d3 d JOIN e ON e.src = d.id)
        |  GROUP BY id)
        |SELECT id, cost FROM d4""".stripMargin)),

    // HITS hubs/authorities, 2 un-normalized integer rounds over the
    // directed mod-300 graph ([[GraphAlgos.hits]]; the oracle unrolls
    // both rounds as join+sum CTEs).
    Query("hits_scores", (s, dir) => {
      val e = modDirectedE(s, dir)
      graft.operators.GraphAlgos.hits(e, "src", "dst", rounds = 2)
    },
      Oracle("""WITH e AS (
        |  SELECT DISTINCT l_partkey % 300 AS src, l_suppkey % 300 AS dst
        |  FROM lineitem
        |  WHERE ((l_partkey % 300) * 31 + (l_suppkey % 300)) % 7 = 0),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, CAST(1 AS BIGINT) AS h FROM n),
        |a1r AS (SELECT e.dst AS id, SUM(h0.h) AS a FROM e
        |  JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1 AS (SELECT n.id, CAST(COALESCE(a1r.a, 0) AS BIGINT) AS a
        |  FROM n LEFT JOIN a1r USING (id)),
        |h1r AS (SELECT e.src AS id, SUM(a1.a) AS h FROM e
        |  JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1 AS (SELECT n.id, CAST(COALESCE(h1r.h, 0) AS BIGINT) AS h
        |  FROM n LEFT JOIN h1r USING (id)),
        |a2r AS (SELECT e.dst AS id, SUM(h1.h) AS a FROM e
        |  JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2 AS (SELECT n.id, CAST(COALESCE(a2r.a, 0) AS BIGINT) AS a
        |  FROM n LEFT JOIN a2r USING (id)),
        |h2r AS (SELECT e.src AS id, SUM(a2.a) AS h FROM e
        |  JOIN a2 ON e.dst = a2.id GROUP BY 1),
        |h2 AS (SELECT n.id, CAST(COALESCE(h2r.h, 0) AS BIGINT) AS h
        |  FROM n LEFT JOIN h2r USING (id))
        |SELECT h2.id, h2.h AS hub, a2.a AS auth
        |FROM h2 JOIN a2 ON h2.id = a2.id""".stripMargin)),

    // near-dup cluster size census over the Jaccard pair graph: how much
    // of the corpus collapses, and into how big groups — the dedup
    // impact report ([[Dedup.connectedComponents]] + two aggregates).
    Query("cluster_sizes", (s, dir) =>
      docDupGraph(s, dir)._2
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters")),
      Oracle("""WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(
        |    [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |     for i in range(1, greatest(len(w)-3, 1))]) AS shs
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |    FROM documents)),
        |inv AS (SELECT doc_id, len(shs) AS nsh, unnest(shs) AS s FROM sh),
        |p AS (SELECT x.doc_id AS a, y.doc_id AS b, x.nsh AS na, y.nsh AS nb,
        |        COUNT(*) AS common
        |      FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
        |      GROUP BY 1, 2, 3, 4),
        |pr AS (SELECT a, b FROM p
        |       WHERE CAST(round(common*1000.0/(na+nb-common), 0) AS BIGINT) >= 100),
        |edges AS (SELECT a AS src, b AS dst FROM pr
        |          UNION SELECT b, a FROM pr),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        |cl AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY 1)
        |SELECT sz, COUNT(*) AS n_clusters FROM sz GROUP BY 1""".stripMargin)),

    // RFM customer segmentation with VALUE-based quartile codes (exact
    // percentile cuts broadcast back, winsorize-style — equal values get
    // equal codes, unlike ntile; recency measured against the corpus max
    // date so the query is reproducible).
    Query("rfm_scores", (s, dir) => {
      val o = t(s, dir, "orders")
      val base = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("f"),
          sum(cents(col("o_totalprice"))).as("m_cents"))
      val withR = base
        .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("max_d"))))
        .withColumn("r_days",
          expr("CAST(datediff(max_d, last_d) AS BIGINT)"))
      val cuts = withR.agg(
        expr("percentile(r_days, array(0.25, 0.5, 0.75))").as("rq"),
        expr("percentile(f, array(0.25, 0.5, 0.75))").as("fq"),
        expr("percentile(m_cents, array(0.25, 0.5, 0.75))").as("mq"))
      withR.crossJoin(broadcast(cuts))
        .withColumn("r_q", expr("CAST(1 + CAST(r_days > rq[0] AS INT) " +
          "+ CAST(r_days > rq[1] AS INT) + CAST(r_days > rq[2] AS INT) " +
          "AS BIGINT)"))
        .withColumn("f_q", expr("CAST(1 + CAST(f > fq[0] AS INT) " +
          "+ CAST(f > fq[1] AS INT) + CAST(f > fq[2] AS INT) AS BIGINT)"))
        .withColumn("m_q", expr("CAST(1 + CAST(m_cents > mq[0] AS INT) " +
          "+ CAST(m_cents > mq[1] AS INT) + CAST(m_cents > mq[2] AS INT) " +
          "AS BIGINT)"))
        .select(col("o_custkey"), col("r_days"), col("f"), col("m_cents"),
          expr("r_q * 100 + f_q * 10 + m_q").as("rfm"))
    },
      Oracle("""WITH base AS (SELECT o_custkey, MAX(o_orderdate) AS last_d,
        |    COUNT(*) AS f,
        |    CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |      AS m_cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT MAX(o_orderdate) AS max_d FROM orders),
        |b2 AS (SELECT o_custkey,
        |    CAST(date_diff('day', last_d, max_d) AS BIGINT) AS r_days,
        |    f, m_cents FROM base CROSS JOIN mx),
        |q AS (SELECT
        |    quantile_cont(r_days, 0.25) AS r1, quantile_cont(r_days, 0.5)
        |      AS r2, quantile_cont(r_days, 0.75) AS r3,
        |    quantile_cont(f, 0.25) AS f1, quantile_cont(f, 0.5) AS f2,
        |      quantile_cont(f, 0.75) AS f3,
        |    quantile_cont(m_cents, 0.25) AS m1, quantile_cont(m_cents, 0.5)
        |      AS m2, quantile_cont(m_cents, 0.75) AS m3
        |  FROM b2)
        |SELECT o_custkey, r_days, f, m_cents,
        |  CAST((1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
        |      + CAST(r_days > r3 AS INT)) * 100
        |    + (1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
        |      + CAST(f > f3 AS INT)) * 10
        |    + (1 + CAST(m_cents > m1 AS INT) + CAST(m_cents > m2 AS INT)
        |      + CAST(m_cents > m3 AS INT)) AS BIGINT) AS rfm
        |FROM b2 CROSS JOIN q""".stripMargin)),

    Query("filter_pred", (s, dir) =>
      t(s, dir, "lineitem")
        .filter((col("l_quantity") < 10 || col("l_returnflag") =!= "N")
          && col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_linenumber")),
      Oracle("""SELECT l_orderkey, l_linenumber FROM lineitem
        | WHERE (l_quantity < 10 OR l_returnflag <> 'N') AND l_linenumber <= 3""".stripMargin)),

    Query("cast_string", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").cast("string").as("ok"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od")),
      Oracle("""SELECT CAST(o_orderkey AS VARCHAR) AS ok,
        | strftime(o_orderdate, '%Y-%m-%d') AS od FROM orders""".stripMargin)),

    Query("topk_per_group", (s, dir) =>
      Transforms.topKPerGroup(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice")),
        Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_custkey"), col("o_orderkey")),
      Oracle("""SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, row_number() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin)),

    Query("json_roundtrip", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        from_json(to_json(struct(col("user_id"), col("event_type"))),
          lit("user_id BIGINT, event_type STRING"))
          .getField("user_id").as("uid")),
      Oracle("SELECT event_id, user_id AS uid FROM events")),

    Query("dedup_key", (s, dir) =>
      Transforms.dedupByKey(t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("external_id"))),
      Oracle("SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS external_id FROM lineitem")),

    // aggregate (max_by) form: the partial phase collapses duplicate keys
    // before the shuffle (the window form shuffles every row first) — the
    // window form (lastWinsByKey) stays for orderings a max-tuple can't
    // express, and OperatorsSpec asserts the two agree.
    Query("upsert_lastwins", (s, dir) =>
      Transforms.lastWinsByKeyAgg(
        t(s, dir, "lineitem").select(
          col("l_orderkey").cast("string").as("external_id"),
          col("l_linenumber").as("line_no"),
          cents(col("l_quantity")).as("qty_cents")),
        "external_id", col("line_no"), col("qty_cents")),
      Oracle("""SELECT external_id, line_no, qty_cents FROM (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS external_id,
        |    l_linenumber AS line_no,
        |    CAST(round(l_quantity*100, 0) AS BIGINT) AS qty_cents,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber DESC,
        |        CAST(round(l_quantity*100, 0) AS BIGINT) DESC) AS rn
        |  FROM lineitem) WHERE rn = 1""".stripMargin))
  )
}
