package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** Graph traversal (SURVEY §2.10) over (child, parent) edges: the
  * reference's recursive NetworkX walks (`2nd Place/src/snomed_graph.py:212-320`)
  * as one BFS. Terminology graphs are dimension-scale, so up to `edgeCap`
  * edges the BFS runs in one job over a broadcast adjacency instead of
  * paying the frontier-join loop's driver round trip per level. */
object Graph {

  /** Max edges for the in-memory BFS (≈ tens of MB of adjacency). */
  private val BroadcastEdgeCap = 4000000L

  private val NoNeighbours = Array.empty[Any]

  /** (node, anc) for every node with at least one ancestor. Pointer doubling
    * measured slower than this BFS (5.4 s vs 3.8 s at sf0.1): it composes
    * all ancestor pairs per node and re-shuffles the closure every round. */
  def ancestorClosure(edges: DataFrame, maxIter: Int = 64,
                      edgeCap: Long = BroadcastEdgeCap)
                     (implicit spark: SparkSession): DataFrame =
    bfs(edges.select(col("child"), col("parent")), None, maxIter + 1,
      emitDist = false, guard = false, edgeCap).toDF("node", "anc")

  /** (root, descendant): BFS down from the roots themselves, O(answer)
    * rather than the full closure filtered afterwards. */
  def descendants(edges: DataFrame, roots: DataFrame, maxIter: Int = 64,
                  edgeCap: Long = BroadcastEdgeCap)
                 (implicit spark: SparkSession): DataFrame =
    bfs(edges.select(col("parent"), col("child")), Some(roots.select(col("root"))),
      maxIter + 1, emitDist = false, guard = false, edgeCap).toDF("root", "descendant")

  /** (root, node, dist): min directed hop count from each root (`find_path`,
    * `snomed_graph.py:284-320`). Fails loudly rather than truncate at
    * `maxDist`, because the table must match the unbounded recursive CTE. */
  def shortestPaths(edges: DataFrame, roots: DataFrame, maxDist: Int = 64,
                    edgeCap: Long = BroadcastEdgeCap)
                   (implicit spark: SparkSession): DataFrame =
    bfs(edges.select(col("parent"), col("child")), Some(roots.select(col("root"))),
      maxDist, emitDist = true, guard = true, edgeCap).toDF("root", "node", "dist")

  /** (root, node, dist) within `steps` UNDIRECTED hops, root excluded
    * (`get_neighbourhood`, `snomed_graph.py:258-282`). The reference also
    * drops its global root concept; callers filter `node` for that. */
  def neighbourhood(edges: DataFrame, roots: DataFrame, steps: Int,
                    edgeCap: Long = BroadcastEdgeCap)
                   (implicit spark: SparkSession): DataFrame = {
    require(steps > 0, "neighbourhood: steps must be > 0")
    val sym = edges.select(col("child"), col("parent"))
      .union(edges.select(col("parent"), col("child")))
    bfs(sym, Some(roots.select(col("root"))), steps, emitDist = true, guard = false,
      edgeCap).toDF("root", "node", "dist").filter(col("node") =!= col("root"))
  }

  /** G4: isolate removal — nodes that appear in no edge. */
  def removeIsolates(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(col("child").as("id"))
      .union(edges.select(col("parent").as("id"))).distinct()
    nodes.join(endpoints, Seq("id"), "left_semi")
  }

  /** BFS along two-column (src, dst) edges from each root (every src when
    * `roots` is None) to (root, node, dist), emitting each node at its
    * first-visit level, which is its min distance; the first level is always
    * expanded. The root is not pre-visited, so a cycle back to it emits it.
    * `guard` fails when the depth bound cut nodes off; a node exactly on the
    * bound with no unseen successor is a complete answer. */
  private def bfs(edges: DataFrame, roots: Option[DataFrame], maxDepth: Int,
                  emitDist: Boolean, guard: Boolean, edgeCap: Long)
                 (implicit spark: SparkSession): DataFrame = {
    val depth = math.max(maxDepth, 1)
    val r = roots.map(_.toDF("root"))
    val (e, small) = Bounded.localGate(edges.toDF("src", "dst"), edgeCap,
      r.map(_.schema.head.dataType))
    val out = small match {
      case Some(rows) =>
        val starts = r.getOrElse(e.select(col("src").as("root"))).distinct()
        val walked = walkAll(rows, starts, e.schema(1).dataType, depth, guard)
        Reuse.release(e)
        walked
      case None =>
        def expand(f: DataFrame) = f.join(e, f("node") === e("src"))
          .select(f("root"), e("dst").as("node"), (f("dist") + 1).as("dist"))
        val first = r.fold(e.select(col("src").as("root"), col("dst").as("node"),
          lit(1).as("dist"))) { rs =>
          expand(rs.distinct().select(col("root"), col("root").as("node"), lit(0).as("dist")))
        }
        var frontier = first.distinct().localCheckpoint(false)
        var acc = frontier
        var d = 1
        // one driver action per level: the count materializes the lazy
        // checkpoint and answers emptiness
        var done = frontier.count() == 0
        while (!done && d < depth) {
          val next = expand(frontier).distinct()
            .join(acc, Seq("root", "node"), "left_anti")
            .localCheckpoint(false)
          done = next.count() == 0
          if (!done) {
            acc = acc.union(next)
            frontier = next
          }
          d += 1
        }
        require(done || !guard ||
          expand(frontier).join(acc, Seq("root", "node"), "left_anti").isEmpty,
          truncated(depth))
        acc
    }
    if (emitDist) out else out.drop("dist")
  }

  private def truncated(depth: Int): String =
    s"shortestPaths: nodes remain beyond maxDist=$depth — the distance table " +
      "would be silently truncated; raise maxDist"

  /** The in-memory BFS of every root in `starts`, in one job over the
    * broadcast adjacency of `rows`. Materialized eagerly so the guard fires
    * here, re-thrown as the IllegalArgumentException the loop raises. */
  private def walkAll(rows: Array[Row], starts: DataFrame, nodeType: DataType,
                      depth: Int, guard: Boolean)
                     (implicit spark: SparkSession): DataFrame = {
    val built = new java.util.HashMap[Any, ArrayBuffer[Any]]()
    rows.foreach(r => built.computeIfAbsent(r.get(0), _ => ArrayBuffer.empty[Any]) += r.get(1))
    val adj = new java.util.HashMap[Any, Array[Any]](math.max(16, built.size * 2))
    built.forEach((k, v) => adj.put(k, v.toArray))
    val adjB = spark.sparkContext.broadcast(adj)
    val schema = StructType(Seq(starts.schema.head,
      StructField("node", nodeType), StructField("dist", IntegerType, nullable = false)))
    val out = starts.mapPartitions { it =>
      val a = adjB.value
      it.flatMap { s =>
        val root = s.get(0)
        walk(a, root, depth, guard).iterator.map { case (n, d) => Row(root, n, d) }
      }
    }(Encoders.row(schema))
    try out.localCheckpoint()
    catch {
      case e: Throwable =>
        throw Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }.getOrElse(e)
    }
  }

  private def walk(adj: java.util.HashMap[Any, Array[Any]], root: Any, depth: Int,
                   guard: Boolean): ArrayBuffer[(Any, Int)] = {
    val out = new ArrayBuffer[(Any, Int)]()
    val visited = new java.util.HashSet[Any]()
    var level = ArrayBuffer(root)
    var d = 0
    while (level.nonEmpty && d < depth) {
      val next = new ArrayBuffer[Any]()
      level.foreach(n => adj.getOrDefault(n, NoNeighbours).foreach { c =>
        if (visited.add(c)) { next += c; out += ((c, d + 1)) }
      })
      level = next
      d += 1
    }
    require(!guard || level.forall(n =>
      adj.getOrDefault(n, NoNeighbours).forall(visited.contains)), truncated(depth))
    out
  }
}
