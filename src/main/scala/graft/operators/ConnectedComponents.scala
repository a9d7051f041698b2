package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

import scala.jdk.CollectionConverters._

/** Transitive closure via alternating large-star / small-star (Kiveris et
  * al., "Connected Components in MapReduce and Beyond"), O(log n) rounds:
  * the reference's recursive NetworkX traversals
  * (`2nd Place/src/snomed_graph.py:212-256`) as iterative Dataset joins.
  * The component label is the min member under Spark's own order.
  *
  * large-star: for each node u, m = min(Γ(u) ∪ {u}); emit (v, m) ∀v ∈ Γ(u), v > u
  * small-star: orient edges to (max, min); m = min(N(u) ∪ {u}) = min N(u);
  *             emit (v, m) ∀v ∈ N(u) \ {m}, plus (u, m)
  *
  * Before the star rounds each range partition of the edges is collapsed by
  * an in-memory union-find into (root → member) stars: connectivity is kept
  * exactly, and on id-adjacent chains whole segments co-locate, so the loop
  * converges in ~1-2 rounds instead of ~log(diameter).
  */
object ConnectedComponents {

  /** Max union-find entries per task before overflow edges pass through
    * uncontracted: bounds task memory at ~a few hundred MB of id strings,
    * the same envelope as Spark's own hash-aggregate maps. */
  private[operators] val ContractCap = 1 << 22

  /** Max edges for which the whole problem is one union-find in one task,
    * with no star round; within the per-task envelope of [[ContractCap]]. */
  private[operators] val LocalSolveCap = 1 << 21

  /** Spark's default string collation compares UTF-8 bytes unsigned, which
    * differs from `String.compareTo` for supplementary characters. */
  private val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      a.length - b.length
    }
  }

  /** An id type with a typed union-find, ordered as Spark orders it, so a
    * union-find root is the label the star loop converges to. */
  private final case class IdType[T](enc: Encoder[(T, T)], ord: Ordering[T]) {
    def contract(ranged: DataFrame): DataFrame = {
      val (cap, o) = (ContractCap, ord)
      ranged.as[(T, T)](enc).mapPartitions(it => contractPartition(it, cap)(o))(enc)
        .toDF("u", "v")
    }

    /** Every endpoint with its component, solved in one task over the
      * materialized edges; self-loops register a node only. */
    def solve(edges: DataFrame): DataFrame = {
      val o = ord
      edges.coalesce(1).as[(T, T)](enc).mapPartitions { it =>
        val es = it.toArray
        val comp = new java.util.HashMap[T, T]()
        es.foreach { case (a, b) => comp.put(a, a); comp.put(b, b) }
        contractPartition(es.iterator, Int.MaxValue)(o).foreach { case (r, k) => comp.put(k, r) }
        comp.asScala.iterator
      }(enc).toDF("id", "component")
    }
  }

  private def idType(dt: DataType): Option[IdType[_]] = dt match {
    case LongType => Some(IdType(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), Ordering.Long))
    case IntegerType => Some(IdType(Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt), Ordering.Int))
    case StringType => Some(IdType(Encoders.tuple(Encoders.STRING, Encoders.STRING), Utf8Ordering))
    case _ => None
  }

  /** edges(a, b) → assignment(id, component) for every endpoint. */
  def apply(edgesIn: DataFrame, maxIter: Int = 40,
            localCap: Long = LocalSolveCap)
           (implicit spark: SparkSession): DataFrame = {
    val ab = edgesIn.select(col("a"), col("b"))
    val id = idType(ab.schema.head.dataType)
    val (edges0, small) = Bounded.localGate(ab, if (id.isDefined) localCap else -1)
    (id, small) match {
      case (Some(t), Some(_)) => t.solve(edges0)
      case _ => starLoop(edges0, maxIter)
    }
  }

  private def starLoop(edges0: DataFrame, maxIter: Int): DataFrame = {
    val nodes = edges0.select(col("a").as("id"))
      .union(edges0.select(col("b").as("id"))).distinct()
    val norm = edges0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
    // the contraction replaces the input distinct (duplicate edges are
    // no-op unions); lazy checkpoints here and per round, materialized by
    // the signature aggregation: one pass per round, not two
    val ranged = norm.repartitionByRange(col("u"), col("v"))
    var edges = idType(norm.schema.head.dataType).fold(norm.distinct())(_.contract(ranged))
      .localCheckpoint(false)

    var stable = false
    var iter = 0
    var sig = signature(edges)
    while (!stable && iter < maxIter) {
      val ss = smallStar(largeStar(edges)).localCheckpoint(false)
      val newSig = signature(ss)
      stable = newSig == sig
      sig = newSig
      edges = ss
      iter += 1
    }

    // after convergence every edge is (node, root); roots + isolated nodes map to themselves
    val assign = edges.select(col("v"), col("u")).toDF("id", "component")
      .union(edges.select(col("u"), col("u")).toDF("id", "component"))
      .groupBy("id").agg(min(col("component")).as("component"))
    nodes.join(assign, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  private def signature(edges: DataFrame): (Long, String) = {
    // decimal(38,0) accumulation: order-independent and ANSI-overflow-safe
    val r = edges.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")), lit(0))
        .cast("string").as("h")).head()
    (r.getLong(0), r.getString(1))
  }

  /** Undirected adjacency as (u, neighbor v). */
  private def adjacency(edges: DataFrame): DataFrame =
    edges.select(col("u"), col("v")).toDF("u", "v")
      .union(edges.select(col("v"), col("u")).toDF("u", "v"))

  private def largeStar(edges: DataFrame): DataFrame = {
    val adj = adjacency(edges)
    val mins = adj.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    adj.filter(col("v") > col("u"))
      .join(mins, "u")
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** In-memory union-find over one partition's edges; past `cap` distinct
    * nodes, further edges with unseen endpoints pass through unchanged. */
  private[graft] def contractPartition[T](it: Iterator[(T, T)], cap: Int)
                                             (implicit ord: Ordering[T]): Iterator[(T, T)] = {
    val parent = new java.util.HashMap[T, T]()
    val passthrough = scala.collection.mutable.ArrayBuffer.empty[(T, T)]
    def find(x: T): T = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    while (it.hasNext) {
      val (a, b) = it.next()
      if (parent.size >= cap && !(parent.containsKey(a) && parent.containsKey(b)))
        passthrough += ((a, b))
      else {
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val stars = scala.collection.mutable.ArrayBuffer.empty[(T, T)]
    val keys = parent.keySet().iterator()
    while (keys.hasNext) {
      val k = keys.next()
      val r = find(k)
      if (r != k) stars += ((r, k))
    }
    stars.iterator ++ passthrough.iterator
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    val o = edges.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = o.groupBy("u").agg(min(col("v")).as("m"))
    val reattach = o.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
    val selfToMin = mins.select(col("m"), col("u")).toDF("u", "v")
    reattach.toDF("u", "v").union(selfToMin)
      .filter(col("u") =!= col("v"))
      .distinct()
  }
}
