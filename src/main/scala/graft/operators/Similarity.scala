package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftExtensions.call

/** Similarity search over an embedding column (LLM-data-pipeline extension
  * family 2): brute-force cosine top-k as the exact baseline and a
  * random-hyperplane-LSH bucketed variant as the scale path.
  *
  * All vector math is a left fold over `array<float>` widened element-wise
  * to double — exact IEEE products (24-bit mantissas fit in 53), a fixed
  * summation order, and therefore bit-identical results in any engine that
  * folds left-to-right (the DuckDB oracle does). The operators run the
  * fold as the fused native expressions (`cosine_sim`, `dot_fd`, `l2_sq`);
  * [[cosine]] is the same fold in built-ins, the reference they match.
  */
object Similarity {

  /** Left-fold dot product of a float-array column with another array. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** The cosine fold in built-ins — the reference
    * [[graft.functions.CosineSimilarity]] is checked against. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector.
    *
    * The query set is broadcast (it is small by construction — the fact
    * side streams past it with no shuffle), every (query, vector) cosine is
    * computed map-side, and the per-query top-k is taken with a window
    * rank. At 1000-executor scale the shuffle carries |queries|·|vectors|
    * rows; for large query sets swap the window for a partial top-k
    * aggregation — for ANN at scale use [[lshTopK]] instead, which bounds
    * the candidate set per bucket. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = vectors.as("v").join(broadcast(queries.as("q")),
        col("q.vec_id") =!= col("v.vec_id"))
    rankTopK(joined
      .select(
        col("q.vec_id").as("query_id"),
        col("v.vec_id").as("neighbor_id"),
        call("cosine_sim", col("q.embedding"), col("v.embedding")).as("sim")), k)
  }

  /** Deterministic pseudo-random grid: component (p, j) is derived from
    * md5("{prefix}{p}_{j}") — reproducible in any engine with md5 (the
    * oracle embeds the same constants), uniform in [-1, 1] at 1/1000 step.
    * Used for both LSH hyperplanes and IVF centroids. */
  def mdGrid(prefix: String, n: Int, dim: Int): Array[Array[Int]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(n, dim) { (p, j) =>
      val hex = md.digest(s"$prefix${p}_$j".getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.substring(0, 15)
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toInt
    }
  }

  def hyperplaneGrid(planes: Int, dim: Int): Array[Array[Int]] = mdGrid("hp", planes, dim)

  /** Sign-bucket of a vector under the hyperplane grid: bit p is set iff
    * dot(v, h_p) >= 0. Vectors in the same bucket agree on every plane —
    * the standard random-hyperplane LSH for cosine similarity. The dot is
    * the fused `dot_fd` expression (bit-equal to [[dot]] — see
    * [[graft.functions.DotFD]]). */
  def signBucket(v: Column, grid: Array[Array[Int]]): Column =
    grid.zipWithIndex.map { case (h, p) =>
      val hCol = array(h.toIndexedSeq.map(x => lit(x / 1000.0)): _*)
      when(call("dot_fd", v, hCol) >= 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ANN top-k: candidates are restricted to the query's sign bucket, then
    * ranked by exact cosine. One equi-join on the bucket id — candidate
    * count per query is |corpus| / 2^planes in expectation, and the join
    * shuffles on bucket keys instead of fanning out all pairs. Recall is
    * approximate by design (bucket boundaries drop some true neighbors). */
  def lshTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              grid: Array[Array[Int]]): DataFrame = {
    val bucketed = vectors.withColumn("bucket", signBucket(col("embedding"), grid))
    val qb = queries.withColumn("bucket", signBucket(col("embedding"), grid))
    val joined = qb.as("q").join(bucketed.as("v"),
        col("q.bucket") === col("v.bucket") && col("q.vec_id") =!= col("v.vec_id"))
    rankTopK(joined
      .select(
        col("q.vec_id").as("query_id"),
        col("v.vec_id").as("neighbor_id"),
        call("cosine_sim", col("q.embedding"), col("v.embedding")).as("sim")), k)
  }

  /** Squared L2 distance of a float-array column to a constant centroid —
    * the fused `l2_sq` loop (a fixed-order left fold, see
    * [[graft.functions.L2SquaredDistance]]). */
  private def dist2(v: Column, cent: Array[Int]): Column =
    call("l2_sq", v, array(cent.toIndexedSeq.map(x => lit(x / 1000.0)): _*))

  /** (dist², centroidIdx) structs for every centroid — struct order is
    * lexicographic, so array_min/array_sort give the (nearest, lowest-idx)
    * deterministic assignment and probe order. */
  private def centroidDists(v: Column, cents: Array[Array[Int]]): Column =
    array(cents.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(dist2(v, c).as("dist"), lit(i).as("c"))
    }: _*)

  /** IVF (inverted-file) ANN top-k: vectors are assigned to their nearest
    * of `cents.length` coarse centroids (one pass, no iteration — the
    * centroids are a deterministic md5-derived grid, so plan and oracle
    * agree); each query probes its `nprobe` nearest cells and ranks the
    * candidates by exact cosine. Complements [[lshTopK]]: IVF cells adapt
    * recall via nprobe without re-hashing, and the cell assignment is the
    * same partitioning a 100 TB corpus would be physically clustered by
    * (write the corpus partitioned by cell → each probe reads nprobe/cells
    * of the data). */
  /** Nearest-cell assignment column (the IVF inverted-file key). */
  private[graft] def cellAssign(cents: Array[Array[Int]]): Column =
    array_min(centroidDists(col("embedding"), cents)).getField("c")

  /** One row per (query, probed cell): the nprobe nearest cells in
    * deterministic (distance, idx) order — the single definition of the
    * probe contract both IVF variants and the oracle must agree on. */
  private[graft] def cellProbes(queries: DataFrame, cents: Array[Array[Int]],
      nprobe: Int): DataFrame =
    queries.withColumn("cell",
      explode(transform(
        slice(array_sort(centroidDists(col("embedding"), cents)), 1, nprobe),
        s => s.getField("c"))))

  /** The (query_id, neighbor_id, sim) projection both IVF variants rank. */
  private def scoredSelect(joined: DataFrame): DataFrame =
    joined.select(
      col("q.vec_id").as("query_id"),
      col("v.vec_id").as("neighbor_id"),
      call("cosine_sim", col("q.embedding"), col("v.embedding")).as("sim"))

  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              cents: Array[Array[Int]], nprobe: Int): DataFrame = {
    val assigned = vectors.withColumn("cell", cellAssign(cents))
    val joined = cellProbes(queries, cents, nprobe).as("q")
      .join(assigned.as("v"),
        col("q.cell") === col("v.cell") && col("q.vec_id") =!= col("v.vec_id"))
    rankTopK(scoredSelect(joined), k)
  }

  /** The physically-clustered variant [[ivfTopK]]'s scaladoc promises:
    * the corpus is MATERIALIZED partitioned by cell (via `materialize`,
    * e.g. a write-once `Scale.writePartitioned` + read-back), and the
    * probe joins the partitioned scan on the partition column against the
    * small broadcast query side — Spark's dynamic partition pruning then
    * restricts the scan to the probed cells' directories at runtime
    * (plan-pinned): each query reads ~nprobe/cells of the corpus bytes,
    * which is the entire point of IVF at 100 TB. Results are identical to
    * [[ivfTopK]] — the oracle asserts exactly that. */
  def ivfTopKPartitioned(vectors: DataFrame, queries: DataFrame, k: Int,
      cents: Array[Array[Int]], nprobe: Int,
      materialize: DataFrame => DataFrame): DataFrame = {
    val corpus = materialize(vectors.withColumn("cell", cellAssign(cents)))
    val joined = corpus.as("v")
      .join(broadcast(cellProbes(queries, cents, nprobe).as("q")),
        col("q.cell") === col("v.cell") && col("q.vec_id") =!= col("v.vec_id"))
    rankTopK(scoredSelect(joined), k)
  }

  /** IVF-PQ ANN top-k — the full modern vector-index stack in one plan:
    * coarse IVF cells bound the candidate set, PRODUCT-QUANTIZATION codes
    * (8 bytes/vector) stand in for the embeddings during candidate
    * scoring, and only a small shortlist is re-ranked with exact cosine
    * over the real vectors. This is the q33/q76 composition: at 100 TB
    * the scored index is `(vec_id, cell, codes)` — 32× smaller than fp32
    * embeddings, the structure IVF-PQ systems actually hold in memory —
    * and the full-precision vectors are touched only for |shortlist| rows
    * per query.
    *
    * Approximate-distance computation: each candidate's subvectors are
    * reconstructed from its codes via the (broadcast, 1-row nested-array)
    * codebook and scored with the standard fixed-order cosine fold —
    * arithmetically identical to the classic per-query lookup-table ADC
    * (same products, same summation order, table indexing replaced by
    * direct centroid lookup), which is the constant-factor optimization a
    * production build would apply without changing a single result bit.
    * Everything is deterministic: codes and cells use (dist, idx)
    * tie-breaks, the ADC shortlist ranks by (adc desc, vec_id), the final
    * ranking by (sim desc, vec_id) — the oracle replays all of it.
    *
    * Plan shape: the index build is two keyed aggregations (codes fold,
    * cell assign is a projection); the probe is an index scan into a
    * broadcast join with the probe list and the codebook (no corpus
    * shuffle), one qid-keyed window for the shortlist over candidate
    * rows (∝ nprobe/cells of the corpus per query), and a broadcast
    * lookup join for the exact re-rank. */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
      cents: Array[Array[Int]], nprobe: Int, shortlist: Int,
      codes: DataFrame, codebook: DataFrame): DataFrame = {
    // The index: one row per vector — coarse cell + the M codes in
    // subspace order (array_sort on (m, code) structs: deterministic).
    val codesArr = codes.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))
    val index = vectors.select(col("vec_id"), cellAssign(cents).as("cell"))
      .join(codesArr, "vec_id")

    // The codebook as ONE nested-array row [m][k][d], broadcast to every
    // candidate: struct sorts pin both nesting orders.
    val cbNested = codebook
      .groupBy(col("m"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("cent")))),
        x => x.getField("cent")).as("row"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("row")))),
        x => x.getField("row")).as("cb"))

    val probes = cellProbes(queries, cents, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))

    // ADC: reconstruct each candidate's subvectors from its codes (1-based
    // element_at; transform's index lambda supplies the subspace) and score
    // with the standard fold — same bits as lookup-table ADC.
    val rec = flatten(transform(col("codes"),
      (c, mi) => element_at(element_at(col("cb"), mi + 1), c + 1)))
    val scored = index.as("v")
      .join(broadcast(probes).as("q"),
        col("q.cell") === col("v.cell") && col("q.qid") =!= col("v.vec_id"))
      .crossJoin(broadcast(cbNested))
      .select(col("q.qid"), col("q.qe"), col("v.vec_id").as("nid"),
        call("cosine_sim", col("q.qe"), rec).as("adc"))
    val short = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))))
      .filter(col("rn") <= shortlist)
      .select(col("qid"), col("nid"))

    // Exact re-rank of the shortlist only: full-precision vectors enter
    // here for the first time, via a broadcast lookup join on the corpus.
    val exact = vectors.as("n")
      .join(broadcast(short.join(queries.select(col("vec_id").as("qid"),
          col("embedding").as("qe")), "qid")),
        col("n.vec_id") === col("nid"))
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        call("cosine_sim", col("qe"), col("n.embedding")).as("sim"))
    rankTopK(exact, k)
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
}
