package graft.queries

import org.apache.spark.sql.SparkSession

/** Scratch-directory discipline shared by every fixture-building query:
  * tmpfs when available (the bench box's virtio disk serializes file
  * IO), name keyed by the sf dir so concurrent scales never collide,
  * and ALWAYS delete-before-use — a stale half-written fixture from a
  * killed run must never be read. One definition so the sanitize/delete
  * semantics cannot drift between the dozen call sites. */
private[queries] object Scratch {
  def dir(spark: SparkSession, prefix: String, sfDir: String): String = {
    val base =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    val p = s"$base/${prefix}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }
}

/** Oracle-SQL fragments shared across the query files — one definition
  * per algorithm twin, so the DuckDB replay of an iterative operator
  * cannot drift between the queries that use it. */
private[queries] object OracleFrags {
  /** The graph and start vector of the PageRank steps, from CTE
    * `edges(src, dst, w)`: out-weights `wo`, `ew(src, dst, w, wout)`,
    * `nodes(node)`, `nn(n)` and the uniform `pr0(node, r)` at `scale`. */
  def prStartCtes(scale: Long): String =
    s"""wo AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
       |          FROM edges GROUP BY 1),
       |ew AS (SELECT e.src, e.dst, e.w, o.wout
       |       FROM edges e JOIN wo o USING (src)),
       |nodes AS (
       |  SELECT src AS node FROM edges
       |  UNION SELECT dst FROM edges
       |), nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (
       |  SELECT node, CAST($scale AS BIGINT) // nn.n AS r
       |  FROM nodes CROSS JOIN nn
       |)""".stripMargin

  /** Unrolled fixed-point PageRank steps (the DuckDB twin of
    * [[graft.operators.PageRank.ranks]] at damp 85/100): expects CTEs
    * `ew(src, dst, w, wout)`, `nodes(node)`, `nn(n)`, `pr0(node, r)` in
    * scope and leaves `pr<iters>(node, r)` as the final table. */
  def prSteps(iters: Int, scale: Long): String = (1 to iters).map { i =>
    s"""pr$i AS (
       |  SELECT n.node,
       |         (15 * CAST($scale AS BIGINT)) // (100 * nn.n)
       |           + (85 * coalesce(s$i.contrib, 0)) // 100 AS r
       |  FROM nodes n CROSS JOIN nn
       |  LEFT JOIN (
       |    SELECT e.dst AS node,
       |           CAST(sum((p.r * e.w) // e.wout) AS BIGINT) AS contrib
       |    FROM ew e JOIN pr${i - 1} p ON p.node = e.src
       |    GROUP BY 1
       |  ) s$i USING (node)
       |)""".stripMargin
  }.mkString(",\n")
}
