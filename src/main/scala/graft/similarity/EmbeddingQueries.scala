package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Rounding.roundHalfAway

/** Embedding-column transformations a training-data pipeline needs
  * beyond similarity search: per-group centroids (class prototypes /
  * cluster summaries) and scalar int8 quantization (the standard
  * 4×-compression trick for vector storage), both oracle-checked.
  *
  * Both are posexplode → keyed aggregation shapes: the shuffle carries
  * (key, dim, value) triples, partial aggregation reduces map-side,
  * and nothing touches the driver — the same plan at 100 TB.
  */
object EmbeddingQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-label centroid, one row per (label, dimension). float→double
    // cast is exact; avg rounded to 4 so cross-engine summation-order
    // noise can't reach the hash.
    "emb_group_centroid" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(roundHalfAway(avg(col("x")), 4).as("c"))),
    // Per-vector min-max scalar quantization to [0, 255]; the output is
    // the integer checksum per vector (exact in both engines — no
    // float comparison at all). Degenerate constant vectors quantize
    // to 0 by convention on both sides.
    "emb_quantize_int8" -> ((s, dir) => {
      val ex = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
      val stats = ex.groupBy(col("vec_id"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      ex.join(stats.hint("shuffle_hash"), Seq("vec_id"))
        .select(col("vec_id"),
          when(col("mx") > col("mn"),
            roundHalfAway((col("x") - col("mn")) / (col("mx") - col("mn")) * 255)
              .cast("long"))
            .otherwise(0L).as("q"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).cast("int").as("n_dims"), sum(col("q")).as("q_sum"))
    }),
    // Higher-order array functions as a user-facing surface: per-row
    // vector stats via filter / transform+aggregate — map-only, no
    // explode, the lambda fold runs left-to-right exactly like the
    // oracle's list_sum, so operands and order match bit-for-bit.
    "emb_vector_stats" -> ((s, dir) => {
      val v = col("embedding").cast("array<double>")
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          size(filter(v, x => x > 0)).as("n_pos"),
          roundHalfAway(aggregate(v, lit(0.0), (acc, x) => acc + abs(x)), 4)
            .as("l1"),
          roundHalfAway(array_max(transform(v, x => abs(x))), 4).as("max_abs"))
    }),
    // Pairwise cosine between per-label centroids (class-prototype
    // confusion structure). Built on the ROUNDED centroid vectors —
    // rounding already absorbs cross-engine summation noise (same
    // contract as emb_group_centroid), so the downstream dot products
    // run over bit-identical operands in identical order. The pair
    // join is over #labels rows; the heavy part (centroid agg) stays
    // the distributed (label, dim)-keyed shuffle.
    "emb_centroid_pairs" -> ((s, dir) => {
      val cent = Tables.embeddings(s, dir)
        .select(col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(roundHalfAway(avg(col("x")), 4).as("c"))
      val v = cent.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("vec"))
      val a = v.select(col("label").as("label_a"), col("vec").as("va"))
      val b = v.select(col("label").as("label_b"), col("vec").as("vb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          roundHalfAway(Ann.cosine(col("va"), col("vb")), 6).as("cosine"))
    }),
    // Sparse random projection (Achlioptas '03 / Johnson–Lindenstrauss):
    // project 64-dim embeddings onto K=8 axes with entries drawn from
    // {+1, 0, -1} (P = 1/6, 2/3, 1/6) scaled by sqrt(3/K). The "random"
    // matrix is a pure LCG formula over (dim, axis), so both engines
    // rebuild it bit-identically and the result is fully oracle-checked
    // — unlike PCA there is no float-derived model. Map-only: the sign
    // rows ride the plan as array literals, each output axis is one
    // left-to-right transform+aggregate fold per row, no shuffle at all
    // — THE cheap dimensionality reduction at 100 TB (distance-
    // preserving to (1±ε) by the JL lemma, no training pass needed).
    "emb_jl_project" -> ((s, dir) => {
      val K = 8
      val D = 64
      val v = slice(col("embedding").cast("array<double>"), 1, D)
      val outs = (0 until K).map { k =>
        val signs = array((0 until D).map(j => lit(Jl.sign(j, k, K))): _*)
        roundHalfAway(
          aggregate(
            transform(v, (x, i) => x * element_at(signs, i + 1)),
            lit(0.0), (acc, x) => acc + x) * math.sqrt(3.0 / K),
          6)
      }
      Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(array(outs: _*)).as(Seq("k", "v")))
    }),
    // PCA projection onto the top-2 principal axes (fit = one
    // distributed Gram pass + driver-side d×d Jacobi; project =
    // map-only codegen'd dots). The eigenvectors are float-sum derived
    // (no cross-engine bit parity possible), so the ORACLE checks the
    // operator by CONTRACT, the a37/a24 trick: the query emits
    // invariants that must hold for any correct PCA —
    //  · var_ratio_ok: top-2 captured variance ≥ the 2/d average-
    //    direction baseline (sum of top-2 eigenvalues ≥ 2·trace/d,
    //    a theorem for any spectrum);
    //  · recon_ok: the DISTRIBUTED mean squared reconstruction error
    //    of the rank-2 projection, measured over the projected rows as
    //    E‖x−μ‖² − Var(pc1) − Var(pc2), equals the model's promised
    //    residual totalVariance·(1−ve₁−ve₂) within 1e-6 relative —
    //    this exercises the map-only projection math end-to-end;
    //  · centered_ok: projections of mean-centered data average to 0.
    // The exact coordinate values stay pinned by PcaSpec's
    // eigensystem tests.
    "emb_pca_project" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = Pca.fit(emb, "embedding", k = 2)
      val proj = Pca.project(emb, "embedding", model)
      def dotA(a: Array[Double], b: Array[Double]): Double = {
        var s0 = 0.0; var i = 0
        while (i < a.length) { s0 += a(i) * b(i); i += 1 }
        s0
      }
      val d = model.mean.length
      val ve = model.varianceExplained
      val varRatioOk = ve.sum >= 2.0 / d
      val orthoOk =
        math.abs(dotA(model.components(0), model.components(1))) < 1e-9 &&
        math.abs(dotA(model.components(0), model.components(0)) - 1) < 1e-9 &&
        math.abs(dotA(model.components(1), model.components(1)) - 1) < 1e-9
      val promisedResidual = model.totalVariance * (1.0 - ve.sum)
      val v = col("embedding").cast("array<double>")
      val meanSq = dotA(model.mean, model.mean)
      val distSq = Ann.dot(v, v) - lit(2.0) * Ann.dot(v, lit(model.mean)) +
        lit(meanSq)
      proj.agg(
        count(lit(1)).as("n_rows"),
        avg(distSq).as("e_dist"),
        (avg(col("pc1") * col("pc1")) - avg(col("pc1")) * avg(col("pc1")))
          .as("var1"),
        (avg(col("pc2") * col("pc2")) - avg(col("pc2")) * avg(col("pc2")))
          .as("var2"),
        abs(avg(col("pc1"))).as("m1"), abs(avg(col("pc2"))).as("m2"))
        .select(col("n_rows"),
          lit(varRatioOk && orthoOk).as("var_ratio_ok"),
          (abs(col("e_dist") - col("var1") - col("var2") -
            lit(promisedResidual)) <=
            lit(1e-6) * lit(model.totalVariance)).as("recon_ok"),
          (col("m1") <= lit(1e-9) && col("m2") <= lit(1e-9))
            .as("centered_ok"))
    }))

  val oracleSql: Map[String, String] = Map(
    "emb_group_centroid" ->
      """WITH ex AS (
        |  SELECT label, (generate_subscripts(embedding, 1) - 1)::INT AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings)
        |SELECT label, pos, round(avg(x), 4) AS c
        |FROM ex GROUP BY 1, 2""".stripMargin,
    "emb_quantize_int8" ->
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |st AS (SELECT vec_id, min(x) AS mn, max(x) AS mx FROM ex GROUP BY 1)
        |SELECT ex.vec_id AS vec_id, count(*)::INT AS n_dims,
        |       sum(CASE WHEN st.mx > st.mn
        |                THEN round((ex.x - st.mn) / (st.mx - st.mn) * 255)::BIGINT
        |                ELSE 0 END)::BIGINT AS q_sum
        |FROM ex JOIN st ON ex.vec_id = st.vec_id
        |GROUP BY 1""".stripMargin,
    "emb_vector_stats" ->
      """SELECT vec_id,
        |       len(list_filter(embedding, x -> x > 0))::INT AS n_pos,
        |       round(list_sum(list_transform(embedding,
        |                                     x -> abs(x::DOUBLE))), 4) AS l1,
        |       round(list_max(list_transform(embedding,
        |                                     x -> abs(x::DOUBLE))), 4)
        |         AS max_abs
        |FROM embeddings""".stripMargin,
    "emb_jl_project" ->
      """WITH e AS (SELECT vec_id, embedding, len(embedding) AS d
        |           FROM embeddings),
        |dims AS (SELECT unnest(range(0, 64)) AS j),
        |terms AS (
        |  SELECT vec_id, k, j,
        |         embedding[j+1]::DOUBLE *
        |         (CASE ((1103515245 * (j * 8 + k) + 12345) % 2147483648) % 6
        |            WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END) AS t
        |  FROM e
        |  CROSS JOIN generate_series(0, 7) AS ks(k)
        |  CROSS JOIN dims
        |  WHERE j < d)
        |SELECT vec_id, k::INT AS k, round(sum(t) * sqrt(3.0/8), 6) AS v
        |FROM terms GROUP BY 1, 2""".stripMargin,
    "emb_centroid_pairs" ->
      """WITH ex AS (
        |  SELECT label, (generate_subscripts(embedding, 1) - 1)::INT AS pos,
        |         unnest(embedding)::DOUBLE AS x
        |  FROM embeddings),
        |cent AS (SELECT label, pos, round(avg(x), 4) AS c
        |         FROM ex GROUP BY 1, 2),
        |v AS (SELECT label, list(c ORDER BY pos) AS vec
        |      FROM cent GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       round(list_dot_product(a.vec, b.vec)
        |             / (sqrt(list_dot_product(a.vec, a.vec))
        |                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
        |FROM v a JOIN v b ON a.label < b.label""".stripMargin,
    // contract oracle (see the query's comment): the invariants are
    // theorems for a correct PCA, so the expected row is fully literal
    "emb_pca_project" ->
      """SELECT count(*)::BIGINT AS n_rows, TRUE AS var_ratio_ok,
        |       TRUE AS recon_ok, TRUE AS centered_ok
        |FROM embeddings""".stripMargin)
}
