package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The candidate-pair convention of every blocked self-join in the engine:
  * "block key → self-join on the block → canonical pair → attach payload
  * → verify".
  *  - Both sides are the same table, suffixed [[A]] and [[B]]: `id`
  *    becomes `id_a`/`id_b`, a carried column `c` becomes `c_a`/`c_b`,
  *    and B's block columns `k_b`.
  *  - A pair is canonical under `id_a < id_b` (each unordered pair once),
  *    or `id_a != id_b` for directed measures (both orientations).
  *  - A site's own predicate runs INSIDE the join condition, so rejected
  *    candidates die in the hash-join probe, never materialized.
  *  - The join carries only the narrow key frame (block, id, carried
  *    scalars); wide payloads (shingle arrays, embeddings) join by id
  *    after the candidate join and any distinct ([[attach]]) — the
  *    late-materialization split of SplitDF (VLDB 2024). Carried columns
  *    no consumer reads are pruned by Catalyst. */
object PairJoin {

  val A = "_a"
  val B = "_b"

  private def side(t: DataFrame, keys: Seq[Column], id: String,
                   carry: Seq[String], sfx: String): DataFrame =
    t.select(keys ++ (col(id).as("id" + sfx) +: carry.map(c => col(c).as(c + sfx))): _*)

  private def blockEq(block: Seq[String]): Seq[Column] =
    block.map(k => col(k) === col(k + B))

  /** Candidate pairs of `t` within equal `block` keys: A's columns (block,
    * `id_a`, `c_a`) then B's (`k_b`, `id_b`, `c_b`).
    *  - `on`: a further join predicate over the suffixed columns.
    *  - `distinct`: when non-empty, keep the columns it names plus the ids,
    *    in (block, ids, `c_a`, `c_b`) order, and de-duplicate — a pair can
    *    collide in several blocks.
    *  - `asymmetric`: pair under `id_a != id_b` instead of `id_a < id_b`.
    *  - `probe` ([[A]] or [[B]]): that side emits each row under the last
    *    block column's value v and both neighbours v ± 1, so a pair whose
    *    bands differ by at most one meets exactly once. */
  def candidates(t: DataFrame, block: Seq[String], id: String,
                 carry: Seq[String] = Nil, on: Option[Column] = None,
                 distinct: Seq[String] = Nil, asymmetric: Boolean = false,
                 probe: String = ""): DataFrame = {
    def keys(sfx: String) = block.map { k =>
      val name = if (sfx == A) k else k + B
      if (sfx == probe && k == block.last) explode(array(col(k) - 1, col(k), col(k) + 1)).as(name)
      else col(k).as(name)
    }
    val order = if (asymmetric) col("id_a") =!= col("id_b") else col("id_a") < col("id_b")
    val pairs = side(t, keys(A), id, carry, A)
      .join(side(t, keys(B), id, carry, B), ((blockEq(block) :+ order) ++ on).reduce(_ && _))
    if (distinct.isEmpty) pairs
    else {
      val keep = distinct.toSet + "id_a" + "id_b"
      val out = block ++ Seq("id_a", "id_b") ++ carry.map(_ + A) ++ carry.map(_ + B)
      pairs.select(out.filter(keep).map(col): _*).distinct()
    }
  }

  /** Join `cols` of `payload` (keyed by `id`) to both sides of a pair
    * table: `c_a` by `id_a`, then `c_b` by `id_b`. */
  def attach(pairs: DataFrame, payload: DataFrame, id: String,
             cols: Seq[String]): DataFrame =
    Seq(A, B).foldLeft(pairs) { (p, sfx) =>
      p.join(side(payload, Nil, id, cols, sfx), Seq("id" + sfx))
    }

  /** One sorted-neighbourhood pass (Hernández–Stolfo): within each
    * `block`, rank rows by (`order`, `id`) and pair each row with the
    * next `w` — rows × w pairs whatever the block sizes. The rank table
    * feeds both sides, so it is materialized once. Output: `id_a` =
    * least and `id_b` = greatest id, then `c_a`, `c_b` by SIDE: `c_a`
    * is the row earlier in the sort, not necessarily `id_a`'s. A pair can
    * repeat across passes; callers de-duplicate at their grain. */
  def neighbors(t: DataFrame, block: Seq[String], order: String, id: String,
                w: Int, carry: Seq[String] = Nil): DataFrame = {
    val r = graft.llm.Memo.cut(t.sparkSession)(t.withColumn("rn", row_number().over(
      Window.partitionBy(block.map(col): _*).orderBy(col(order), col(id)))))
    // A's rank moves 1..w ahead: the rank of the B row it pairs with
    val a = side(r, block.map(col), id, carry :+ "rn", A)
      .withColumn("step_a", explode(expr(s"sequence(1, $w)")))
      .withColumn("rn_a", col("rn_a") + col("step_a"))
      .drop("step_a")
    a.join(side(r, block.map(k => col(k).as(k + B)), id, carry :+ "rn", B),
           (blockEq(block) :+ (col("rn_a") === col("rn_b"))).reduce(_ && _))
      .select(Seq(least(col("id_a"), col("id_b")).as("id_a"),
                  greatest(col("id_a"), col("id_b")).as("id_b")) ++
              (carry.map(_ + A) ++ carry.map(_ + B)).map(col): _*)
  }

  /** Mutual best matches of a scored pair table (id_a, id_b, cos): each
    * pair counts in both directions, each source keeps its top-1 (cos
    * desc, then dst), and a pair survives only when each side is the
    * other's best, so a hub keeps at most one partner. The top-1 table
    * feeds both sides of the mutuality join and is materialized once.
    * Output: (id_a, id_b, cos), id_a < id_b. */
  def mutualBest(pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("cos"), explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("cos"))
    val top = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val best = graft.llm.Memo.cut(pairs.sparkSession)(
      sym.withColumn("rk", row_number().over(top)).filter(col("rk") === 1)
        .select(col("src"), col("dst"), col("cos")))
    best.as("x")
      .join(best.as("y"), col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
                            && col("x.src") < col("x.dst"))
      .select(col("x.src").as("id_a"), col("x.dst").as("id_b"), col("x.cos").as("cos"))
  }
}
