package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding similarity-search operators (SURVEY.md §2.9): brute-force
  * cosine top-k as the correctness baseline, a hyperplane-LSH bucketed
  * variant as the scale path, plus per-label centroid stats and the
  * multimodal document⋈embedding join.
  *
  * Dot products run as `aggregate(zip_with(a, b, _*_))` higher-order
  * functions — codegen-friendly, array-local, no explode. Floats are
  * cast to double BEFORE multiply/accumulate so both engines sum in
  * double precision; scores are rounded to 4 digits and every top-k
  * rank breaks ties on the rounded score by neighbor id, making ranks
  * deterministic cross-engine.
  *
  * Scale notes: brute-force kNN is O(|Q|·|N|) — correct baseline, kept
  * for small |Q|. The LSH variant buckets vectors by the sign pattern
  * of 8 deterministic hyperplane projections (256 buckets) and joins
  * only within a bucket: candidate count drops ~256× and the join is a
  * shuffle-equi-join on the bucket id, the plan shape that survives
  * 100 TB (hyperplanes are arithmetic in (j, pos), so no side table is
  * needed; at cluster scale the bucket id becomes the partition key).
  */
object LlmSim extends OpModule {

  /** Σ a[i]·b[i] in double, sequential order — native codegen'd
    * Catalyst expression (graft.functions.DotProduct); the HOF
    * `aggregate(zip_with(...))` twin evaluates interpreted per element
    * and was the hot path of every similarity query. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecDot(a, b)

  private def norm(a: Column): Column =
    graft.functions.GraftFunctions.vecNorm(a)

  /** Hyperplane LSH bucket: bit j = sign of Σ_pos h(j,pos)·v[pos] with
    * h(j,pos) = ((37·j + 101·pos) mod 97) / 97 − 0.5 (arithmetic-only,
    * engine-portable). 8 bits → bucket ∈ [0, 256). pos is 1-based.
    * Native codegen'd expression (graft.functions.HyperplaneLshBucket).
    */
  private def lshBucket(v: Column): Column =
    graft.functions.GraftFunctions.lshBucket(v, 8)

  // ---- Shared power-iteration machinery (embed_top_pc, embed_abtt) --
  // In-row mat-vec and normalization over a D²-array Gram row with
  // fixed-order HOF folds — every add happens in index order on BOTH
  // engines, so the doubles are bit-identical (a groupBy mat-vec would
  // sum in partition order and hash-diverge).

  private val PcD = 64

  private def pcMatvec(mf: Column, x: Column): Column =
    transform(sequence(lit(0), lit(PcD - 1)), i =>
      aggregate(sequence(lit(0), lit(PcD - 1)), lit(0.0),
        (acc, j2) => acc + element_at(mf, i * PcD + j2 + 1) * element_at(x, j2 + 1)))

  private def pcNormalize(y: Column): Column =
    transform(y, e => e / sqrt(aggregate(y, lit(0.0), (a, v) => a + v * v)))

  /** Three normalized power steps from the all-ones vector over the
    * Gram row in `mcol`, with per-step lineage cuts (the top_pc
    * discipline — each step references its input 64² times). Returns
    * the frame with `xcol` = the unit eigenvector estimate. */
  private def pcIterate(frame: DataFrame, mcol: String, xcol: String): DataFrame = {
    val i1 = GraftBridge.checkpoint(frame.withColumn(s"${xcol}_1",
      pcNormalize(pcMatvec(col(mcol), array_repeat(lit(1.0), PcD)))))
    val i2 = GraftBridge.checkpoint(i1.withColumn(s"${xcol}_2",
      pcNormalize(pcMatvec(col(mcol), col(s"${xcol}_1")))))
    GraftBridge.checkpoint(i2.withColumn(xcol,
      pcNormalize(pcMatvec(col(mcol), col(s"${xcol}_2")))))
      .drop(s"${xcol}_1", s"${xcol}_2")
  }

  /** Rayleigh quotient xᵀMx for a unit x — the eigenvalue estimate. */
  private def pcRayleigh(mcol: String, xcol: String): Column =
    aggregate(zip_with(col(xcol), pcMatvec(col(mcol), col(xcol)),
      (a, b) => a * b), lit(0.0), (a, v) => a + v)

  // ---- Shared k-means machinery (embed_kmeans, sim_knn_ivf) ----------
  // One Lloyd assignment/update pair over cosine similarity. Centroids
  // live as (cell, array<double>) rows — C rows at ANY corpus size,
  // always broadcast; scoring is a map-only broadcast-cross-score +
  // partial-agg argmin (min over (−cos, cell) structs) — map-side
  // combine collapses the |V|·C scores to |V| rows before the shuffle,
  // no window sort over the score matrix. Updates sum FLOOR(v·1e6) as
  // integers — order-independent, so recomputed centroids are
  // bit-identical across engines and partition layouts (a raw double
  // mean is summation-order dependent and would diverge).

  /** Nearest-centroid assignment: (vec_id, cell, acos) with acos the
    * winning rounded cosine, ties to the lower cell id. `e` must carry
    * (vec_id, embedding, nrm). */
  private def kmAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val cwn = cents.withColumn("cnrm", norm(col("c_emb")))
    e.crossJoin(broadcast(cwn))
      .withColumn("kcos", round(
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("cnrm")), 4))
      .groupBy("vec_id")
      .agg(min(struct((-col("kcos")).as("nc"), col("cell").as("cl"))).as("m"))
      .select(col("vec_id"), col("m.cl").as("cell"), (-col("m.nc")).as("acos"))
  }

  /** Lloyd update: integer-sum mean of FLOOR(v·1e6) per (cell, pos).
    * ONE aggregation via the grid-exact O(dim)-buffer UDAF (r14 — the
    * old join + posexplode + two-groupBy shape paid 3 extra exchange
    * stages per round across every consumer; values bit-identical,
    * see GridCentroidAggregator). */
  private def kmUpdate(e: DataFrame, assign: DataFrame): DataFrame =
    assign.join(e.select("vec_id", "embedding"), "vec_id")
      .groupBy("cell")
      .agg(graft.functions.GridCentroidAggregator.asColumn(col("embedding"))
        .as("c_emb"))

  /** Deterministic init: the C lowest-id vectors as double arrays. */
  private def kmInit(s: SparkSession, d: String, c: Int): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < c)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), _.cast("double")).as("c_emb"))

  /** Query-side top-N cell assignment: the `nprobe` nearest centroids
    * per vector by rounded cosine, rank ties to the lower cell id
    * (mirrors the oracle's row_number). Only ever applied to the tiny
    * query side — the |Q|·C score matrix is dimension-sized, so the
    * rank window is cheap; database vectors keep kmAssign's
    * partial-agg argmin. Carries (embedding, nrm) through so no
    * re-join is needed. */
  private def kmAssignTopN(e: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val cwn = cents.withColumn("cnrm", norm(col("c_emb")))
    val w = Window.partitionBy("vec_id").orderBy(col("kcos").desc, col("cell"))
    e.crossJoin(broadcast(cwn))
      .withColumn("kcos", round(
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("cnrm")), 4))
      .withColumn("prk", row_number().over(w))
      .filter(col("prk") <= nprobe)
      .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
  }

  // ---- session-level trained-index memo (r16 verdict #4/#6) ---------

  /** Cross-QUERY memo of trained-index frames (see [[SessionMemo]]
    * for the contract): the heavy eval band (rrf / ndcg / ivfpq /
    * recall_*) re-trained bit-identical quantizer chains per query;
    * the serving reality is FAISS's — ONE index built, many queries
    * served. Memoized chains here: `ivfTrain` (coarse quantizer),
    * `pqDists` (trained PQ distance table), `annEval` (tier universe
    * + four-path retrieved union). */
  private[graft] def ivfTrain(s: SparkSession, d: String): (DataFrame, DataFrame) =
    SessionMemo.memo(s, d, "ivfTrain")(ivfTrainBuild(s, d))

  /** Trained C=8 k-means chain — (centroids after 2 Lloyd rounds,
    * round-2 assignment), both eager cuts. Session-memoized (r16):
    * embed_kmeans and embed_silhouette trained bit-identical chains;
    * one build serves both (the ivfTrain discipline at C=8). */
  private def km8Shared(s: SparkSession, d: String): (DataFrame, DataFrame) =
    SessionMemo.memo(s, d, "km8") {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm"))
      var cents = kmInit(s, d, 8)
      // round 1 single-reference -> uncut (r14 cut-trim, see ivfTrain)
      cents = kmUpdate(e, kmAssign(e, cents))
      // a2 is cut FIRST and the final update derives from the cut
      // (r17, ADVICE r16 #2 — mirrors ivfTrainBuild): cutting the
      // update before the assignment ran the round-2 corpus
      // assignment subplan twice, once inside each checkpoint job.
      val a2 = GraftBridge.checkpoint(kmAssign(e, cents))
      (GraftBridge.checkpoint(kmUpdate(e, a2)), a2)
    }

  /** IVF training: C=16 coarse centroids (deterministic lowest-id
    * init + 2 integer-exact Lloyd iterations via the shared
    * kmAssign/kmUpdate machinery). The final centroid table AND the
    * full-corpus assignment are cut (r5 verdict #4 / PLANS.md
    * unrolled-loop rule): every downstream
    * reference — the probe's query scoring, the cell join, a stats
    * rollup — would otherwise re-derive the full embedding scan +
    * assignment lineage per reference. Returns (trained centroids,
    * assignment incl. embedding and norm). */
  private def ivfTrainBuild(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val C = 16
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    var cents = kmInit(s, d, C)
    // Round 1 feeds ONLY round 2 (cents enters kmAssign exactly once,
    // via the broadcast) — a single-reference chain grows linearly,
    // so no intermediate cut (r14 cut-trim; each eager action prices
    // ~100–160 ms of scheduling floor). The FINAL tables are
    // multi-referenced and cut: the session memo serves them to every
    // IVF consumer. Consumers that also train another chain build the
    // two with `par`, so their cut jobs overlap (r15 audit: the
    // ANN-eval band was ~85% serialization floor).
    cents = kmUpdate(e, kmAssign(e, cents))
    cents = GraftBridge.checkpoint(kmUpdate(e, kmAssign(e, cents)))
    val assign = GraftBridge.checkpoint(kmAssign(e, cents).join(e, "vec_id"))
    (cents, assign)
  }

  /** IVF probe: each query (vec_id < 10) searches the union of its
    * `nprobe` nearest trained cells (r5 verdict #5 — nprobe=1
    * measured recall@5 0.82 at sf0.01; probing the 2 nearest cells
    * recovers the mass a near-boundary query loses to its second
    * cell). A neighbor lives in exactly one cell, so the union of
    * cell joins is duplicate-free; scoring and rank-5 selection are
    * unchanged from the nprobe=1 form. */
  private[graft] def ivfProbe(cents: DataFrame, assign: DataFrame,
      nprobe: Int): DataFrame = {
    val qv = assign.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val q = kmAssignTopN(qv, cents, nprobe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cell"))
    val n = assign.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"), col("cell"))
    val scored = q.join(n, Seq("cell")).filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 4))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select("q_id", "cell", "n_id", "cos", "rk")
      .orderBy("q_id", "rk")
  }

  private[graft] def ivfBody(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val (cents, assign) = ivfTrain(s, d)
    ivfProbe(cents, assign, nprobe)
  }

  /** Pair-enumeration cells are kept at or below this many members by
    * the second-level split — the knob that keeps Σ|cell|² linear in
    * the corpus. */
  private[graft] val SubCellTarget = 625L

  /** Key base for composing (cell, sub) into one synthetic cell id
    * when the still-over-cap groups recurse one level: cell·2³² + sub
    * is collision-free while sub < 2³² (K_c = ⌈|cell∩train|/625⌉
    * reaches 2³² only past ~10¹² vectors per coarse cell). */
  private[graft] val SubKeyBase = 1L << 32

  /** Id base for composing a recursive split's sub ids:
    * sub₁·2²⁰ + sub₂ ≥ 2²⁰ can never collide with an unsplit group's
    * plain sub id (plain ids reach 2²⁰ only when one coarse cell
    * holds > 625·2²⁰ ≈ 6.5·10⁸ training members). */
  private[graft] val SubIdBase = 1L << 20

  /** Second-level (within-cell) sub-quantizer (r11): the sf10 probe
    * measured the FIXED-C coarse cells going quadratic at 100× —
    * dedup_semdedup hit exponent 1.84 over the second decade because
    * Σ|cell|² pair enumeration has |cell| = |V|/16. SemDeDup's own
    * scale story is "cluster count grows with the corpus", and the
    * production shape is HIERARCHICAL (FAISS-style): keep the cheap
    * fixed-C coarse level, then split every cell into
    * K_c = ⌈|cell|/625⌉ sub-cells with one LOCAL integer-exact Lloyd
    * round (init below, assign → floor-mean update → final assign,
    * all keyed (cell, sub)). Pair work becomes Σ|subcell|² ≈ |V|·625
    * (linear); the sub-assignment fanout is Σ|cell|·K_c =
    * |V|²/(C·625) — a constant ~10⁴ below the flat-C quadratic. At
    * every driver-graded SF each cell is already below 625 members,
    * so K_c = 1 everywhere and the split is the IDENTITY — graded
    * outputs are bit-identical to the flat form.
    *
    * ONE RECURSIVE LEVEL (r13, resolving the r12 verdict's recursion
    * claim): one local Lloyd round guarantees the cap only in
    * expectation — an unbalanced round can leave a (cell, sub) group
    * over 625 training members and quietly reintroduce the quadratic
    * the hierarchy exists to kill. Any group still over the cap is
    * RE-SPLIT by the same machinery: its (cell, sub) packs into a
    * synthetic cell id cell·[[SubKeyBase]] + sub, [[subCentroids]] /
    * [[subAssign]] run verbatim over those rows (same residue init,
    * same integer-exact floor-mean update, same argmin tie rule), and
    * the refined id comes back as sub₁·[[SubIdBase]] + sub₂ —
    * collision-free against unsplit ids by construction. The branch
    * is decided DRIVER-SIDE on the tiny over-cap census (the same
    * fixpoint discipline the unrolled graph kernels use): wherever no
    * group exceeds the cap — every graded SF, where cells themselves
    * are under 625 (InvariantsSpec audits both trained cell
    * structures per graded directory) — the level-1 assignment
    * returns UNTOUCHED, graded outputs stay bit-identical, and the
    * only added cost is one map-side-combining census pass; when the
    * census fires, only the over-cap rows pay the re-split and the
    * refined ids patch the assignment as a small left-joined delta.
    * Measured on the 100× stress corpus: 107 of ~10⁴ (cell, sub)
    * groups over cap (hottest 789) → 2 groups (hottest 679, a
    * near-duplicate tail no metric split separates) for ~70k
    * re-split rows. Exact-dup
    * clusters are the one shape no metric split can separate (every
    * member ties at cosine 1.0 and argmin sends all to sub 1); their
    * pair work is genuinely |group|² — an output-bound property of
    * the corpus, not a partition defect (the r11 near-minhash
    * lesson). Deeper-than-one recursion buys nothing until a single
    * Lloyd level misses the cap TWICE on non-degenerate geometry —
    * the occupancy tripwire on the 100× stress corpus (InvariantsSpec)
    * watches exactly that premise.
    *
    * Init (r12, de-linearized per the r11 verdict): sub i's seed is
    * the LOWEST-id training member of residue class
    * vec_id mod K_c = i−1 — one map-side-combining aggregation keyed
    * (cell, residue), nothing |V|-linear in any single task. The r11
    * form ranked every training member with a per-cell row_number —
    * C=16 partitions ⇒ 16 giant sort tasks at real scale. A residue
    * class can in principle be empty (adversarial id spacing), in
    * which case that sub id simply never materializes and the cell
    * splits into fewer, larger sub-cells — a balance degradation,
    * never a correctness one (the partition algebra below holds
    * regardless). At K_c = 1 the seed is the cell's min vec_id —
    * exactly the r11 init — so graded outputs stay bit-identical.
    *
    * `trainPred` restricts init + update to the index-owning side
    * (dedup_incremental_embedding trains on OLD vectors only) and by
    * contract references only (vec_id, cell) — the recursion's
    * over-cap census evaluates it on the assignment frame, which
    * carries no embedding; the
    * final assignment covers every input row whose cell has at least
    * one training member (a cell with none contributes no
    * cross-pairs anyway). Determinism: rounded-cosine argmin with
    * ties → lower sub (the kmAssign convention), floor-mean updates
    * on the 1e6 integer grid, unique vec_id makes the residue seed
    * unique. Returns (vec_id, cell, sub). */
  private[graft] def subSplit(assign: DataFrame, trainPred: Column): DataFrame = {
    val e = assign.select(col("vec_id"), col("cell"), col("embedding"))
      .withColumn("snrm", norm(col("embedding")))
    val s1 = GraftBridge.checkpoint(subAssign(e, subCentroids(assign, trainPred)))
    // One recursive level: find groups still over the cap by TRAINING
    // membership (the count K_c is defined on). trainPred is a
    // predicate over (vec_id, cell) by contract, so it evaluates on
    // s1 directly — one map-side-combining aggregation straight to a
    // ≤ |V|/625-row census. The branch decision is DRIVER-SIDE on the
    // tiny census (the iterative-kernel fixpoint discipline): the
    // healthy path — every graded SF, and any corpus one Lloyd round
    // balances — returns s1 UNTOUCHED, paying only the census pass,
    // never a rebuild of the |V|-row assignment.
    val over = GraftBridge.checkpoint(s1.filter(trainPred)
      .groupBy("cell", "sub").agg(count(lit(1)).as("n_tr"))
      .filter(col("n_tr") > SubCellTarget)
      .select("cell", "sub"))
    if (over.isEmpty) s1
    else {
      val assign2 = s1.join(over, Seq("cell", "sub"))
        .withColumn("sub1", col("sub"))
        .join(assign.select("vec_id", "embedding"), "vec_id")
        .select(col("vec_id"), col("sub1"),
          (col("cell").cast("long") * lit(SubKeyBase) + col("sub")).as("cell"),
          col("embedding"))
      val s2 = subAssign(
        assign2.withColumn("snrm", norm(col("embedding"))),
        subCentroids(assign2, trainPred))
      // Refined ids come back as a DELTA (only the over-cap rows) and
      // patch s1 by one left join — no hint, so AQE broadcasts the
      // delta while it's small and degrades to a shuffled join past
      // broadcast scale instead of forcing an oversized build.
      val resplit = GraftBridge.checkpoint(s2
        .join(assign2.select("vec_id", "sub1"), "vec_id")
        .select(col("vec_id"),
          (col("sub1") * lit(SubIdBase) + col("sub")).as("sub2")))
      GraftBridge.checkpoint(s1.join(resplit, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("sub2"), col("sub")).as("sub")))
    }
  }

  /** The TRAINED sub-centroid frame (cell, sub, sc_emb) — the
    * second-level stored index. Factored from [[subSplit]] (r12) so
    * the streaming semantic-ingest twin can consume the same stored
    * index the batch operator assigns against. */
  private[graft] def subCentroids(assign: DataFrame, trainPred: Column): DataFrame = {
    val e = assign.select(col("vec_id"), col("cell"), col("embedding"))
      .withColumn("snrm", norm(col("embedding")))
    val tr = e.filter(trainPred)
    val kc = tr.groupBy("cell").agg(
      expr(s"(count(1) + ${SubCellTarget - 1}) div $SubCellTarget").as("kc"))
    // kc is C rows (the FIXED coarse cell count) — broadcast-safe by
    // construction, unlike the data-sized sub-centroid frame below.
    val init = tr.join(broadcast(kc), "cell")
      .withColumn("sub", pmod(col("vec_id"), col("kc")) + lit(1L))
      .groupBy("cell", "sub")
      .agg(min_by(col("embedding"), col("vec_id")).as("seed"))
      .select(col("cell"), col("sub"),
        transform(col("seed"), _.cast("double")).as("sc_emb"))
    val a1 = subAssign(tr, GraftBridge.checkpoint(init))
    val upd = a1.join(e.select("vec_id", "embedding"), "vec_id")
      .select(col("cell"), col("sub"),
        posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .groupBy(col("cell"), col("sub"), col("pos0"))
      .agg((sum(floor(col("vf").cast("double") * 1000000.0).cast("long"))
        .cast("double") / (lit(1000000.0) * count(lit(1)))).as("c"))
      .groupBy("cell", "sub")
      .agg(transform(sort_array(collect_list(struct(col("pos0"), col("c")))),
        _.getField("c")).as("sc_emb"))
    GraftBridge.checkpoint(upd)
  }

  /** Nearest-sub-centroid assignment within each coarse cell — the
    * inner join of [[subSplit]], hoisted so PlansSpec can lock its
    * shape. The centroid side is NOT hint-broadcast (r12, per the
    * r11 verdict): the sub-centroid table is ~|V|/625 rows — tiny at
    * every measured decade (AQE's size estimate of the
    * localCheckpoint'd frame broadcasts it at runtime), 8 GB+ at a
    * true 100 TB corpus, where an explicit hint would force an
    * oversized broadcast instead of degrading to a shuffled cell-keyed
    * join with AQE skew-splitting. */
  private[graft] def subAssign(members: DataFrame,
      cents: DataFrame): DataFrame = {
    val cwn = cents.withColumn("scnrm", norm(col("sc_emb")))
    members.join(cwn, Seq("cell"))
      .withColumn("scos", round(
        dot(col("embedding"), col("sc_emb")) / (col("snrm") * col("scnrm")), 4))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(struct((-col("scos")).as("ns"), col("sub").as("sb"))).as("m"))
      .select(col("vec_id"), col("cell"), col("m.sb").as("sub"))
  }

  /** IVF×PQ composed (r7) — the production ANN index shape (FAISS's
    * IVFPQ): the trained IVF coarse quantizer GATES which database
    * vectors are scored, PQ ADC does the scoring on compressed codes.
    * Each query probes its 2 nearest trained cells; only codes of
    * vectors living in those cells join the broadcast distance table
    * — at 100 TB the scan cost drops from |V|·M code rows to
    * (2/C)·|V|·M, and the full float vectors are still never touched
    * at query time. Composes (does not re-derive) the graded IVF and
    * PQ training chains; recall vs the exact truth stays gated by the
    * sim_recall_* family. */
  private[graft] def ivfpqBody(s: SparkSession, d: String): DataFrame = {
    val Q = 10
    // The coarse (IVF) and fine (PQ) quantizers train on disjoint
    // lineages — their eager cut chains build concurrently (r15) and
    // are memoized across queries (r16): the rrf/ndcg/pq consumers
    // reuse the same cut frames instead of re-training.
    val ((cents, assign), dists) = par(
      ivfTrain(s, d),
      pqDistsShared(s, d))
    val qv = assign.filter(col("vec_id") < Q)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val qcells = kmAssignTopN(qv, cents, 2)
      .select(col("vec_id").as("q_id"), col("cell"))
    val ncells = assign.select(col("vec_id").as("n_id"), col("cell"))
    val cand = broadcast(qcells).join(ncells, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
    // r15 verdict #1: the per-code ADC join (|gated|·M rows vs the
    // Q·M·K broadcast table, then a groupBy sum) pivots to ONE map
    // lookup expression per candidate — the cell gate joins the
    // pivoted code rows, the 8-term sum is the same exact longs.
    val adc = pqCodesPivot(pqArgmin(dists))
      .join(cand, col("vec_id") === col("n_id"))
      .join(broadcast(qDistMap(dists, Q)
        .withColumnRenamed("q_id", "dq_id")), col("q_id") === col("dq_id"))
      .withColumn("adc_dist", (0 to 7).map(m =>
        element_at(col("dmap"), (lit(m * 16) + col(s"c$m")).cast("int")))
        .reduce(_ + _))
      .select("q_id", "n_id", "adc_dist")
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("n_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("n_id"), col("adc_dist"))
      .coalesce(1) // ≤ 3·Q rows: the terminal sort needs no range exchange
      .orderBy("q_id", "rnk")
  }


  /** Tiered-relevance universe over the gated Q=10 query set (the
    * sim_knn gated 10·|V| frame), cut once and joined by every
    * consumer — shared by [[ndcgBody]] and [[rrfBody]]. */
  private def tierUniverse(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"))
    val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      norm(col("embedding")).as("n_nrm"))
    // cut, not persist (r15): the tier frame is joined by BOTH the
    // ideal-DCG side and the retrieved side of the terminal job —
    // lazily persisted, those two stages raced the cold cache and
    // each materialized the 10·|V| brute scoring. The cut runs
    // concurrently with the path-training cuts (`par` below).
    GraftBridge.checkpoint(q.join(n, col("q_id") =!= col("n_id"))
      .withColumn("cos", round(
        dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 4))
      .select(col("q_id"), col("n_id"),
        when(col("cos") >= 0.3, 3L).when(col("cos") >= 0.2, 2L)
          .when(col("cos") >= 0.1, 1L).otherwise(0L).as("tier")))
  }

  private def ndcgGain(t: org.apache.spark.sql.Column) =
    when(t === 3, 7L).when(t === 2, 3L).when(t === 1, 1L).otherwise(0L)

  /** Pivot the ≤5 ranks to columns so the discounted sum is ONE
    * fixed-order double expression from exact integer gains. */
  private def dcgPivot(df: DataFrame, keys: Seq[String],
      out: String): DataFrame = {
    val piv = df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_ret"),
      (1 to 5).map(i =>
        sum(when(col("rk") === i, col("gain")).otherwise(lit(0L)))
          .as(s"g$i")): _*)
    piv.withColumn(out,
      col("g1").cast("double") * lit(NdcgW(0))
        + col("g2").cast("double") * lit(NdcgW(1))
        + col("g3").cast("double") * lit(NdcgW(2))
        + col("g4").cast("double") * lit(NdcgW(3))
        + col("g5").cast("double") * lit(NdcgW(4)))
      .drop("g1", "g2", "g3", "g4", "g5")
  }

  /** The ideal ordering's DCG per query over the full gated universe. */
  private def idealDcg(tiers: DataFrame): DataFrame = {
    val wI = Window.partitionBy("q_id").orderBy(col("tier").desc, col("n_id"))
    val ideal = tiers.withColumn("rk", row_number().over(wI).cast("long"))
      .filter(col("rk") <= 5).withColumn("gain", ndcgGain(col("tier")))
    dcgPivot(ideal, Seq("q_id"), "idcg_raw").drop("n_ret")
  }

  /** Every ANN serving path's retrieved list — (path, q_id, n_id, rk);
    * each path contributes its own graded plan. */
  private def annRetrieved(s: SparkSession, d: String): DataFrame = {
    // The IVF and PQ legs each serialize 2–3 eager training cuts;
    // the chains share nothing, so they build CONCURRENTLY (r15
    // verdict #1 — `par` overlaps the two trained-quantizer
    // chains' cut jobs; LSH and Hamming are pure lazy plans and cost
    // nothing at build time).
    val (ivf, pq) = par(ivfBody(s, d, 4),
      knnPqBody(s, d))
    queries("sim_knn_lsh")(s, d)
      .select(lit("lsh").as("path"), col("q_id"), col("n_id"), col("rk"))
      .unionAll(ivf
        .select(lit("ivf").as("path"), col("q_id"), col("n_id"), col("rk")))
      .unionAll(pq
        .select(lit("pq").as("path"), col("q_id"), col("n_id"),
          col("rnk").as("rk")))
      .unionAll(queries("sim_knn_hamming")(s, d)
        .select(lit("hamming").as("path"), col("q_id"), col("n_id"),
          col("rk")))
  }

  /** The (tier universe, four-path retrieved) pair — bit-identical
    * across sim_ndcg_eval and sim_rrf_fusion by construction, built
    * once per session via the memo (r16 verdict #4); the retrieved
    * union is cut so the memoized frame holds materialized blocks, not
    * the path plans. */
  private def annEvalShared(s: SparkSession, d: String): (DataFrame, DataFrame) =
    SessionMemo.memo(s, d, "annEval") {
      par(tierUniverse(s, d),
        GraftBridge.checkpoint(annRetrieved(s, d)))
    }

  /** Rank-aware retrieval eval (r11): nDCG@5 of every ANN serving
    * path — LSH buckets, IVF (nprobe=4), PQ ADC, 1-bit Hamming —
    * against the brute cosine universe the recall gates already use.
    * Recall@k says "found"; nDCG says "found in the right ORDER" —
    * the readout a retrieval stack actually ships. Graded relevance =
    * tiers of the round-4 cosine (>=0.3 -> 3, >=0.2 -> 2, >=0.1 -> 1
    * — fitted to the synthetic embedding geometry, where brute top-1
    * cosines run 0.32-0.49: measured pyramid at sf0.01 is 43 / 243 /
    * 815 tiered pairs of 4,990, no query degenerates to an all-zero
    * universe), gains 2^tier − 1 as exact integers, rank discounts
    * 1/log₂(rk+1) as PINNED double literals rendered into both
    * engines (libm log differs in the last ulp; a literal cannot —
    * the evt_decay_score discipline). Each DCG pivots its <=5 ranks
    * to columns so the discounted sum is ONE fixed-order double
    * expression from exact integer gains — engine-identical; nDCG
    * divides by the ideal ordering's DCG over the full gated
    * universe. Scale shape: the tier universe is the sim_knn gated
    * 10·|V| frame, cut ONCE and joined by all four paths (the
    * truth-set discipline); each path contributes its own graded
    * plan; everything after is |paths|·|Q| rows. A shorter retrieved
    * list (PQ serves top-3) simply earns 0 at the missing ranks —
    * the standard @k convention. */
  private[graft] def ndcgBody(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val (tiers, ann) = annEvalShared(s, d)
    val idcgT = idealDcg(tiers)
    val retr = ann
      .join(tiers, Seq("q_id", "n_id"))
      .withColumn("gain", ndcgGain(col("tier")))
    val dcgT = dcgPivot(retr, Seq("path", "q_id"), "dcg_raw")
    val spine = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .crossJoin(Seq("lsh", "ivf", "pq", "hamming").toDF("path"))
    spine.join(dcgT, Seq("path", "q_id"), "left")
      .join(broadcast(idcgT), Seq("q_id"))
      .select(col("path"), col("q_id"),
        coalesce(col("n_ret"), lit(0L)).as("n_retrieved"),
        round(coalesce(col("dcg_raw"), lit(0.0)), 4).as("dcg"),
        round(col("idcg_raw"), 4).as("idcg"),
        when(col("idcg_raw") > 0,
          round(coalesce(col("dcg_raw"), lit(0.0)) / col("idcg_raw"), 4))
          .as("ndcg"))
      .orderBy("path", "q_id")
  }

  /** Reciprocal-rank-fusion constants (Cormack, Clarke & Buettcher
    * 2009): the paper's standard k = 60, and the LCM of 61..65 so
    * every per-rank contribution LCM/(60+rk) is an EXACT integer —
    * fused scores sum order-independently and compare exactly in
    * both engines (no double addition whose order a shuffle could
    * permute). Max fused score = 4 paths · LCM/61 ≈ 3.2e7 — far
    * inside a long. */
  private val RrfDen = 495593280L

  /** sim_rrf_fusion (r11 verdict #5): fuse the four ANN paths'
    * retrieved lists with reciprocal-rank fusion — score(n) =
    * Σ_paths 1/(60 + rank_path(n)) — and grade the FUSED top-5
    * against the same cut tier universe sim_ndcg_eval grades
    * the individual paths on, so the ensemble's nDCG reads directly
    * beside the per-path numbers. Scores live on the exact integer
    * grid (see [[RrfDen]]); fused ranking ties → lower n_id. Scale
    * shape: the fusion itself is one partial-agged groupBy over
    * ≤ |paths|·k·|Q| rows and a q_id-partitioned ≤18-row window —
    * the cost is the four path plans it composes, not re-derives. */
  private[graft] def rrfBody(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val (tiers, ann) = annEvalShared(s, d)
    val idcgT = idealDcg(tiers)
    // cut: `rrf` is referenced by BOTH `fused` and `cands` below —
    // unregistered, the un-cut portions of the four-path retrieval
    // executed TWICE per query (r15 verdict #1); a lazy persist
    // instead lets the two consumer stages race on the cold cache and
    // materialize it twice concurrently (measured — task time doubled).
    // The frame is ≤ |paths|·k·|Q| ≈ 200 rows.
    val rrf = GraftBridge.checkpoint(ann
      .withColumn("contrib", expr(s"$RrfDen div (60 + rk)"))
      .groupBy("q_id", "n_id")
      .agg(count(lit(1)).as("n_paths"), sum("contrib").as("rrf_int")))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_int").desc, col("n_id"))
    val fused = rrf.withColumn("rk", row_number().over(wf).cast("long"))
    val cands = rrf.groupBy("q_id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("n_paths") >= 2, 1L).otherwise(0L)).as("n_multi"),
      max(col("rrf_int")).as("top_rrf_scaled"))
    val fg = fused.filter(col("rk") <= 5)
      .join(tiers, Seq("q_id", "n_id"))
      .withColumn("gain", ndcgGain(col("tier")))
    val fdcg = dcgPivot(fg, Seq("q_id"), "dcg_raw")
    val spine = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
    spine.join(cands, Seq("q_id"), "left")
      .join(fdcg, Seq("q_id"), "left")
      .join(broadcast(idcgT), Seq("q_id"))
      .select(col("q_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_multi"), lit(0L)).as("n_multi"),
        coalesce(col("top_rrf_scaled"), lit(0L)).as("top_rrf_scaled"),
        coalesce(col("n_ret"), lit(0L)).as("n_retrieved"),
        round(coalesce(col("dcg_raw"), lit(0.0)), 4).as("dcg"),
        round(col("idcg_raw"), 4).as("idcg"),
        when(col("idcg_raw") > 0,
          round(coalesce(col("dcg_raw"), lit(0.0)) / col("idcg_raw"), 4))
          .as("ndcg"))
      .orderBy("q_id")
  }

  /** PQ asymmetric-distance kNN (ADC) — the third ANN scale path
    * beside LSH buckets and IVF cells: the database lives as |V|·M
    * CODE rows (8 small ints per vector — the compressed index), and
    * each query precomputes a |Q|·M·K distance table that BROADCASTS.
    * Scoring is a map-side join codes⋈dtab + a partial agg summing M
    * per-subspace terms — the full float vectors are never touched at
    * query time. All distances are exact integer sums of FLOOR(v·1e6)
    * squares vs the TRAINED codebook (pqCodebook), so ranks are
    * engine-identical. dists feeds BOTH the database codes and the
    * query distance table — the session memo's checkpoint, so the
    * trained-codebook lineage executes once, not twice (r5). */
  private[graft] def knnPqBody(s: SparkSession, d: String): DataFrame =
    knnPqFrom(pqDistsShared(s, d))

  /** Session-memoized CUT of the brute-truth top-5 pair set
    * (sim_knn's (q_id, n_id) projection) — every recall gate
    * left-joins this same frame (r16, see [[SessionMemo]]). */
  private def knnTruthShared(s: SparkSession, d: String): DataFrame =
    SessionMemo.memo(s, d, "knnTruth")(
      GraftBridge.checkpoint(
        queries("sim_knn")(s, d).select(col("q_id"), col("n_id"))))

  /** Session-memoized CUT of the NSW-lite search answer — shared by
    * sim_knn_graph and its recall gate (the graph build is the
    * expensive half of both queries). */
  private def knnGraphShared(s: SparkSession, d: String): DataFrame =
    SessionMemo.memo(s, d, "knnGraph")(
      GraftBridge.checkpoint(knnGraphBody(s, d)))

  /** Hamming-path quality gate (r9): per-query recall@5 of the
    * 1-bit sign-quantized search against the exact cosine truth —
    * completes the per-path recall family (LSH: sim_recall_eval,
    * IVF: sim_recall_ivf, PQ: sim_recall_pq; every ANN serving
    * path in the module now ships with its accuracy eval). The
    * eval that prices the 64×-compression trade before a binary
    * index ships. Composes the two graded kNN operators; truth is
    * the memoized cut, one dimension-sized left join + agg. Body
    * factored out for PlansSpec plan locks.
    */
  private[graft] def recallHammingBody(s: SparkSession, d: String): DataFrame = {
    val truth = knnTruthShared(s, d)
    val ham = queries("sim_knn_hamming")(s, d)
      .select(col("q_id").as("h_q"), col("n_id").as("h_n"), lit(1).as("hit"))
    truth
      .join(ham, col("q_id") === col("h_q") && col("n_id") === col("h_n"),
        "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .select(col("q_id"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
      .orderBy("q_id")
  }

  /** Per-table band width of the graph-ANN LSH build (r17): the
    * smallest w in [8, 16] with 2^w·16 ≥ nV — mean bucket occupancy
    * stays ≤ 16 so candidate volume Σ|bucket|² stays O(|V|). The
    * INTEGER threshold chain (w = 8 + |{k ∈ 8..15 : nV > 16·2^k}|)
    * is mirrored term-for-term by the oracle's [[GraphBucketsSql]]
    * `wv` CTE — no float log₂, which could ceil differently across
    * engines at exact powers of two. */
  private[graft] def graphBandBits(nV: Long): Int = {
    var w = 8
    while (w < 16 && nV > (16L << w)) w += 1
    w
  }

  /** Graph-ANN (NSW-lite) greedy beam search (r15 verdict #2) — the
    * fifth ANN serving family beside LSH / IVF / PQ / Hamming: search
    * walks the kNN graph instead of scanning an index. Edge frame =
    * a directed per-vector top-5 graph over TWO-table LSH candidates
    * (two independent w-bit hyperplane tables, w ∝ log₂|corpus| —
    * one table's bucket gate yields disconnected per-bucket cliques,
    * measured recall 0),
    * refined by TWO NN-descent rounds (Dong et al., WWW 2011):
    * co-neighbor pairs (b, c both in a's top-5 ⇒ (b, c)) and two-hop
    * pairs (a→b→c ⇒ (a, c)) become edge candidates, are scored on
    * the same rounded cosine, and the top-5 NEW edges per node are
    * AUGMENTED onto the base (degree 5 → 10 → 15) — augment, never
    * re-rank: re-ranking old ∪ new toward the exact kNN graph makes
    * the graph MORE cluster-fragmented (measured recall 0.22 → 0.14;
    * augmentation measured 0.84). Candidates stay ≤ deg² rows per
    * node per round, so the refinement stays in the base build's
    * linear cost class while letting good edges cross LSH-bucket
    * boundaries (the fragmentation that held r15 recall@5 at 0.22).
    * Search: every query (vec_id < 10) seeds MULTI-ENTRY — its own
    * refined shortlist ∪ 32 fixed global hub entries (the r15
    * single-entry form marooned bucket-singleton queries at recall
    * 0) — then 4 unrolled beam-10 hops: candidates = out-neighbors
    * of the current beam over the SYMMETRIZED edges, fresh
    * candidates (anti-joined against everything already visited) are
    * scored on the integer-grid rounded cosine, the top-10 fresh
    * nodes (ties → lower id) become the next beam, and ALL scored
    * nodes accumulate into the visited set. Answer = top-5 of the
    * visited set. Scale shape: the beam is ≤ 10·|Q| rows (broadcast
    * onto the edge frame — each hop is one map-side join), scoring
    * touches only the fresh frontier per hop, and the unrolled
    * rounds cut per superstep (the graph-kernel discipline). Recall
    * vs the brute truth is graded by [[recallGraphBody]];
    * session-memoized via [[knnGraphShared]]. */
  private[graft] def knnGraphBody(s: SparkSession, d: String): DataFrame = {
    // TWO independent w-bit hyperplane tables from one 2w-bit hash
    // (bits 0..w−1 / w..2w−1 — disjoint hyperplane sets, so the
    // tables are independent): a single-table bucket-gated kNN graph
    // is a union of DISCONNECTED per-bucket cliques — a walk can
    // never leave its bucket and recall measured 0. Multi-table
    // candidate generation (the standard LSH construction) crosses
    // table-1 boundaries via table-2 co-residency.
    //
    // SCALE-ADAPTIVE BAND WIDTH (r17, the r16 verdict's #1 ask): the
    // r16 build pinned w = 8, so once the 2^8 buckets saturate the
    // candidate volume Σ|bucket|² goes quadratic in |V| (measured
    // second-decade exponent ≈ 1.4: ~13 s at sf1 → ~333 s at sf10).
    // w now grows with log₂|corpus|: the smallest w in [8, 16] with
    // 2^w·16 ≥ |V|, i.e. mean bucket occupancy stays ≤ 16 and
    // Σ|bucket|² stays O(|V|) through the whole ramp (past |V| =
    // 2^20 the cap trades candidate volume back in — the dedup
    // band-width lesson, r10). The threshold chain is INTEGER-exact
    // so Spark and the DuckDB oracle derive the identical w at any
    // count (a float log₂ could ceil differently in the two engines
    // at exact powers of two); at every driver-graded SF (|V| ≤
    // 4096) w = 8, the r16 width. The oracle twin (graphSearchSql)
    // computes the same chain from count(*).
    val w = graphBandBits(Tables.embeddings(s, d).count())
    val lo = 1L << w
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"),
        graft.functions.GraftFunctions.lshBucket(col("embedding"), 2 * w)
          .as("b2w"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        expr(s"b2w % $lo").as("bucket1"), expr(s"b2w div $lo").as("bucket2"))
    // BUCKET-LOCAL scoring (r16, guide §8 — move heavy bytes once):
    // the r15 form collected skinny candidate pairs, distinct'ed, and
    // re-joined BOTH embedding arrays at PAIR grain — two sort-merge
    // joins whose second sorted Σ|bucket|² rows carrying a 64-float
    // array (~300 GB of sort spill at the sf10 probe; the leg died on
    // disk). Scoring now happens INSIDE the bucket join, where both
    // vectors already co-reside (the dedup_semdedup shape): the only
    // exchanges carrying arrays are the corpus-grain bucket shuffles
    // (|V| rows per table), the pair-grain frame is projected to
    // (a_id, b_id, ecos) in the same pipelined stage, and the
    // cross-table dedup is a skinny groupBy-max (ecos is identical in
    // both tables, so max = the r15 distinct's value — outputs
    // bit-identical, rehearsed green).
    def scoredSide(t: Int) = {
      val a = e.select(col(s"bucket$t").as("bucket"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col(s"bucket$t").as("bucket"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"), round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4)
          .as("ecos"))
    }
    // NEGATIVE RESULT (r17, recorded): repartition(a_id) before this
    // dedup — so the groupBy and the rank window share one exchange —
    // measured +1.8 s same-window (9.26 vs 7.42): losing the
    // map-side partial dedup put 2× raw pair rows AND the full agg +
    // window sort into one post-shuffle stage, costing more than the
    // saved exchange. The two-exchange shape stays.
    val cand = scoredSide(1).unionAll(scoredSide(2))
      .groupBy("a_id", "b_id").agg(max("ecos").as("ecos"))
    val we = Window.partitionBy("a_id").orderBy(col("ecos").desc, col("b_id"))
    // Directed top-5 kNN edges over the multi-table candidates;
    // queries are nodes too, so their out-edges double as the walk's
    // deterministic seeds below.
    val dir = GraftBridge.checkpoint(cand
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= 5)
      .select(col("a_id"), col("b_id"), col("ecos")))
    // NN-DESCENT refinement rounds (r16): co-neighbor candidates
    // ((b, c) when a→b and a→c) ∪ two-hop candidates ((a, c) when
    // a→b→c), anti-joined against existing edges, scored once, and
    // the top-5 NEW edges per node UNIONED onto the base. AUGMENT,
    // don't replace: re-ranking old ∪ new down to 5 makes the graph
    // MORE like the exact kNN graph — which is itself
    // cluster-fragmented (measured recall 0.22 → 0.14); keeping the
    // base LSH edges AND the refinement edges (degree +5/round)
    // preserves bucket-crossing diversity while adding true-neighbor
    // shortcuts. Candidates stay ≤ deg²-per-node rows — the
    // refinement cannot leave the base build's linear cost class.
    def nnRound(base: DataFrame): DataFrame = {
      val coN = base.select(col("a_id").as("src"), col("b_id").as("x"))
        .join(base.select(col("a_id").as("src"), col("b_id").as("y")), "src")
        .filter(col("x") =!= col("y"))
        .select(col("x").as("a_id"), col("y").as("b_id"))
      val twoHop = base.select(col("a_id"), col("b_id").as("mid"))
        .join(base.select(col("a_id").as("mid"), col("b_id")), "mid")
        .filter(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id")
      val fresh = coN.unionAll(twoHop).distinct()
        .join(base.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
      // SHUFFLE_HASH on both vector attachments (r16, guide §3.1):
      // the NN-descent candidates are pair-grain and one vector per
      // pair must travel (inherent to distributed NN-descent), but a
      // sort-merge join would SORT the array-laden stream — the
      // sf10-killer shape above. A shuffled-hash join moves the
      // payload through one hash exchange and the very next operator
      // projects it down to ecos in the same pipelined stage.
      // b-side attach FIRST, a-side LAST (r17, guide §2.4): the rank
      // window below partitions by a_id, so finishing on the a_id
      // join leaves the stream hash-partitioned exactly as the window
      // requires — one exchange saved per refinement round (the r16
      // order re-shuffled by b_id after the a_id attach).
      val scored = fresh
        .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
          col("nrm").as("b_nrm")).hint("shuffle_hash"), "b_id")
        .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
          col("nrm").as("a_nrm")).hint("shuffle_hash"), "a_id")
        .withColumn("ecos", round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4))
        .select("a_id", "b_id", "ecos")
      val w = Window.partitionBy("a_id").orderBy(col("ecos").desc, col("b_id"))
      GraftBridge.checkpoint(base.unionAll(scored
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("a_id"), col("b_id"), col("ecos"))))
    }
    val dir2 = nnRound(nnRound(dir))
    // SYMMETRIZED adjacency (kNN edges ∪ reverses) — NSW links are
    // undirected; the directed form dead-ends greedy walks.
    val edges = GraftBridge.checkpoint(dir2.select("a_id", "b_id")
      .unionAll(dir2.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .distinct())
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val nside = e.select(col("vec_id").as("n_id"),
      col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    // pairs (q_id, n_id) -> scored (q_id, n_id, cos); the query side
    // is |Q| rows, always broadcast.
    def scoreOf(pairs: DataFrame): DataFrame =
      pairs.join(nside.hint("shuffle_hash"), "n_id").join(broadcast(q), "q_id")
        .withColumn("cos", round(
          dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 4))
        .select("q_id", "n_id", "cos")
    // DETERMINISTIC MULTI-ENTRY seeds (r16): the query's own refined
    // shortlist (the index's candidates for that query, ties → lower
    // id) ∪ 32 global hub entries (the 32 lowest non-query ids — a
    // FIXED-size entry set at any corpus scale, scored once per
    // query). The r15 single-entry fallback left bucket-singleton
    // queries (q8/q9 at sf0.01) marooned in one region — recall 0;
    // multi-entry is the HNSW-style answer a flat graph can afford:
    // 32·|Q| extra scored rows buys a start near every major region.
    val seeds = dir2.filter(col("a_id") < 10)
      .select(col("a_id").as("q_id"), col("b_id").as("n_id"),
        col("ecos").as("cos"))
    val hubs = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("n_id")).orderBy("n_id").limit(32)
    val hubSeeds = scoreOf(
      q.select("q_id").crossJoin(broadcast(hubs)))
    // distinct: a hub can coincide with a shortlist edge; the rounded
    // cosine is identical on both legs, so pair-level dedup is exact.
    // repartition(q_id) before the distinct (r17, guide §2.4): the
    // dedup needs ClusteredDistribution(q_id, n_id, cos) and the
    // beam-0 window needs hashpartitioning(q_id) — q_id satisfies
    // both, one exchange instead of two. Beam/visited frames are
    // |Q|-bounded (≤ 10·(42 + 40·hops) rows at ANY corpus scale —
    // |Q| is a fixed 10), so their cuts ride coalesce(1) (the r14
    // floor discipline: a 1-partition cut prices ~65 ms vs ~100–160).
    var visited = GraftBridge.checkpoint(
      seeds.unionAll(hubSeeds).repartition(col("q_id")).distinct().coalesce(1))
    val wB0 = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    var beam = visited.withColumn("brk", row_number().over(wB0))
      .filter(col("brk") <= 10).drop("brk")
    for (_ <- 1 to 3) {
      val cand = broadcast(beam.select(col("q_id"), col("n_id")))
        .join(edges, col("n_id") === col("a_id"))
        .select(col("q_id"), col("b_id").as("n_id")).distinct()
      val fresh = cand.join(visited.select("q_id", "n_id"),
        Seq("q_id", "n_id"), "left_anti")
      val scored = scoreOf(fresh)
      val wB = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      val next = GraftBridge.checkpoint(
        scored.withColumn("brk", row_number().over(wB)).coalesce(1))
      beam = next.filter(col("brk") <= 10).drop("brk")
      // visited is CUT per hop: a lazy union-of-cut-leaves was tried
      // (r16) and measured ~1 s SLOWER — the per-hop anti-join over
      // the growing union tree costs more than the saved eager jobs.
      visited = GraftBridge.checkpoint(visited.unionAll(next.drop("brk")).coalesce(1))
    }
    // Hop 4 runs LAZILY inside the terminal job (r17): the last hop's
    // beam feeds nothing (the loop ends) and its scored frontier is
    // consumed exactly once — by the final top-5 window — so neither
    // per-hop cut is load-bearing; two eager jobs saved per build.
    val cand4 = broadcast(beam.select(col("q_id"), col("n_id")))
      .join(edges, col("n_id") === col("a_id"))
      .select(col("q_id"), col("b_id").as("n_id")).distinct()
    val fresh4 = cand4.join(visited.select("q_id", "n_id"),
      Seq("q_id", "n_id"), "left_anti")
    val finalVisited = visited.unionAll(scoreOf(fresh4))
    val wF = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    finalVisited.filter(col("n_id") =!= col("q_id"))
      .withColumn("rk", row_number().over(wF).cast("long"))
      .filter(col("rk") <= 5)
      .select("q_id", "n_id", "cos", "rk")
      .orderBy("q_id", "rk")
  }

  /** Graph-path quality gate: per-query recall@5 of the NSW-lite beam
    * search against the exact cosine truth — completes the per-path
    * recall family (LSH / IVF / PQ / Hamming / graph: every ANN
    * serving path ships with its accuracy eval). The
    * sim_recall_hamming shape: truth is the memoized cut, one
    * dimension-sized left join + agg. */
  private[graft] def recallGraphBody(s: SparkSession, d: String): DataFrame = {
    // truth chain ‖ graph chain (r16): the brute sim_knn truth and the
    // NN-descent graph build share nothing — `par` overlaps
    // their eager cut jobs instead of serializing the two chains (both
    // sides memo-hit instantly when another query already built them).
    val (truth, g) = par(
      knnTruthShared(s, d),
      knnGraphShared(s, d)
        .select(col("q_id").as("g_q"), col("n_id").as("g_n"),
          lit(1).as("hit")))
    truth
      .join(g, col("q_id") === col("g_q") && col("n_id") === col("g_n"),
        "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .select(col("q_id"), col("n_truth"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
      .orderBy("q_id")
  }

  /** The trained COARSE centroids of the incremental-embedding index
    * (C=8, init = the 8 lowest old ids, 2 Lloyd rounds over OLD
    * vectors only). */
  private[graft] def incEmbCents(s: SparkSession, d: String): DataFrame = {
    val C = 8
    val old = Tables.embeddings(s, d)
      .filter(!(col("vec_id") % 7 === 3))
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    var cents = Tables.embeddings(s, d)
      .filter(!(col("vec_id") % 7 === 3) && col("vec_id") < C + 1)
      .select(col("vec_id").as("cell"),
        transform(col("embedding"), _.cast("double")).as("c_emb"))
    // round 1 single-reference -> uncut (r14 cut-trim, see ivfTrain)
    cents = kmUpdate(old, kmAssign(old, cents))
    GraftBridge.checkpoint(kmUpdate(old, kmAssign(old, cents)))
  }

  /** Coarse train + assign of the incremental-embedding index (C=8,
    * init = the 8 lowest old ids, 2 Lloyd rounds over OLD vectors
    * only — the stored-index contract) — factored out of
    * [[incEmbBody]] so the per-graded-SF cap tripwire
    * (InvariantsSpec) audits the same cells the graded operator
    * pairs on. Returns (vec_id, cell, embedding, nrm) over the FULL
    * corpus. */
  private[graft] def incEmbAssign(s: SparkSession, d: String): DataFrame = {
    val full = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    GraftBridge.checkpoint(kmAssign(full, incEmbCents(s, d))
      .join(full.select("vec_id", "embedding"), "vec_id"))
  }

  private[graft] def incEmbBody(s: SparkSession, d: String): DataFrame = {
      // Incremental SEMANTIC dedup (r10) — the embedding twin of
      // dedup_incremental, completing the nightly-ingest story across
      // both dedup families: new-batch vectors (the vec_id % 7 = 3
      // hash slice) dedup against the EXISTING corpus through a
      // coarse quantizer TRAINED ON THE OLD SIDE ONLY (init = the 8
      // lowest old ids, 2 Lloyd rounds over old vectors — the stored
      // index a deployment owns; today's arrivals must not move
      // yesterday's centroids before they are screened). Both sides
      // assign to the trained cells; candidates are new×old pairs
      // WITHIN a cell only (the SemDeDup argument — Σ|cell|new·|cell|old,
      // never batch×corpus), scored at rounded integer-grid cosine
      // ≥ 0.45 (the dedup_semdedup threshold). Output is the per-label
      // ingest ledger. Scale shape: the old side's assignment is the
      // checkpointed index; nightly cost is the batch's cell footprint.
      val isNew = col("vec_id") % 7 === 3
      val assign = incEmbAssign(s, d)
      // Hierarchical sub-split (r11, sf10 probe): candidate pairs ride
      // (cell, sub) with sub-cells capped at 625 OLD members — the
      // sub-quantizer trains on the old side only, like the coarse
      // level (today's arrivals must not move the stored index).
      // Identity at every graded SF; linear pair work at 100×.
      val sub = subSplit(assign, !(col("vec_id") % 7 === 3))
      val ie = assign.join(sub.select("vec_id", "sub"), "vec_id")
        .select(col("vec_id"), col("cell"), col("sub"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"))
        .withColumn("inrm", sqrt(dot(col("iv"), col("iv"))))
      val nw = ie.filter(isNew).select(col("cell"), col("sub"),
        col("vec_id").as("n_id"), col("iv").as("n_iv"), col("inrm").as("n_nrm"))
      val od = ie.filter(!isNew).select(col("cell"), col("sub"),
        col("vec_id").as("o_id"), col("iv").as("o_iv"), col("inrm").as("o_nrm"))
      val dup = nw.join(od, Seq("cell", "sub"))
        .withColumn("cos", round(
          dot(col("n_iv"), col("o_iv")) / (col("n_nrm") * col("o_nrm")), 4))
        .filter(col("cos") >= 0.45)
        .select(col("n_id").as("vec_id")).distinct()
      Tables.embeddings(s, d).filter(isNew)
        .select(col("vec_id"), col("label").cast("long").as("label"))
        .join(dup.withColumn("dupf", lit(1)), Seq("vec_id"), "left")
        .groupBy("label")
        .agg(count(lit(1)).as("n_new"),
          count(col("dupf")).as("n_dup_old"),
          (count(lit(1)) - count(col("dupf"))).as("n_kept"))
        .orderBy("label")
  }

  /** Frontier argmax of one greedy round: orderBy().limit(1) ⇒
    * TakeOrderedAndProject (per-partition top-1 heaps) — shared by
    * every kcenterBody round and locked in PlansSpec (the rounds
    * themselves are lineage-cut, so the terminal plan cannot show
    * the shape). */
  private[graft] def kcenterNext(dmin: DataFrame): DataFrame =
    dmin.orderBy(col("nd").desc, col("vec_id").asc).limit(1)

  private[graft] def kcenterBody(s: SparkSession, d: String): DataFrame = {
      // Greedy k-center coreset selection (farthest-point traversal —
      // Gonzalez 1985, the classic 2-approximation; the geometric
      // data-selection staple the sampling family lacked: pick the K
      // vectors that COVER the embedding space, the shape coreset /
      // diverse-probe selection uses where temperature/stratified
      // sampling picks by mass). Deterministic: seed = vec_id 0, each
      // round adds the vector maximizing its distance to the selected
      // set (ties → lowest vec_id) and emits the covering radius² at
      // selection time — the K-row (pick, vec_id, d2) trace an
      // auditor replays. Engine-exactness: all distances live on the
      // ⌊v·1e6⌋ integer grid via d² = |a|² + |c|² − 2a·c (Σ ≤ 64·4e12
      // ≈ 2.6e14 < 2^53 — exact in doubles, exact in the final BIGINT
      // cast). Scale shape: the frontier (per-vector min-distance)
      // updates by ONE broadcast-center pass per round — K·|V| work
      // total, the standard coreset build; argmax rides
      // TakeOrderedAndProject (never a global sort), rounds cut via
      // localCheckpoint like every unrolled chain in the module.
      val K = 8
      // Every round's checkpoint jobs read the integer grid: cut it
      // once instead of re-running the interpreted transform per round.
      val e = GraftBridge.checkpoint(Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"))
        .withColumn("selfdot", dot(col("iv"), col("iv"))))
      def d2To(center: DataFrame): DataFrame =
        e.crossJoin(broadcast(center))
          .select(col("vec_id"),
            (col("selfdot") + col("c_self")
              - lit(2.0) * dot(col("iv"), col("c_iv"))).as("nd"))
      val seed = e.filter(col("vec_id") === 0)
      var picks = seed.select(lit(1L).as("pick"), col("vec_id"),
        lit(0L).as("d2"))
      var dmin = GraftBridge.checkpoint(d2To(
        seed.select(col("iv").as("c_iv"), col("selfdot").as("c_self"))))
      for (t <- 2 to K) {
        val nxt = kcenterNext(dmin)
        val nxtC = GraftBridge.checkpoint(nxt.join(e, "vec_id")
          .select(col("vec_id").as("c_id"), col("nd").as("c_d"),
            col("iv").as("c_iv"), col("selfdot").as("c_self")))
        picks = picks.unionByName(nxtC.select(lit(t.toLong).as("pick"),
          col("c_id").as("vec_id"), col("c_d").cast("long").as("d2")))
        if (t < K) {
          val dn = d2To(nxtC.select("c_iv", "c_self"))
            .withColumnRenamed("nd", "nd2")
          dmin = GraftBridge.checkpoint(dmin.join(dn, "vec_id")
            .select(col("vec_id"), least(col("nd"), col("nd2")).as("nd")))
        }
      }
      picks.orderBy("pick")
  }

  /** Residual quantization eval (r9) — the second-stage encoding
    * FAISS-style IVF indexes apply after coarse assignment: stage 1
    * is the trained C=8 k-means (the embed_kmeans chain), stage 2
    * quantizes the RESIDUAL v − c(assigned) with its own K=8
    * codebook (deterministic lowest-id init + one integer-exact
    * Lloyd round via the shared pq machinery, M=1 subspace spanning
    * all 64 dims). The graded readout is the decision table an RQ
    * deployment reads: per (cell, residual-code) usage and the
    * stage-1 → stage-2 distortion drop — if the drop is small, the
    * second stage isn't paying for its bytes. Engine-exactness:
    * residuals live on the integer grid from the start
    * (ri = ⌊v·1e6⌋ − ⌊c·1e6⌋ — both terms exact), so every
    * distance, mean, and distortion sum is integer arithmetic; the
    * drop ratio is ONE double division, guarded at sum_d1 = 0 (a
    * group whose members all coincide with their centroid would
    * otherwise emit engine-dependent 0/0 NaN — emit 0.0, matching
    * the oracle CASE). Scale shape: training is the same
    * broadcast-codebook partial-agg chain as PQ; residual element
    * rows shuffle once on vec_id. Sums stay < 2^63 up to ~10⁵
    * vectors/group at this dim; a 100 TB run lifts them to DECIMAL
    * like sim_centroid_separation. Body factored out for PlansSpec.
    */
  private[graft] def rqBody(s: SparkSession, d: String): DataFrame = {
    val C = 8
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    var cents = kmInit(s, d, C)
    // round 1 single-reference -> uncut (r14 cut-trim, see ivfTrain)
    cents = kmUpdate(e, kmAssign(e, cents))
    cents = GraftBridge.checkpoint(kmUpdate(e, kmAssign(e, cents)))
    val assign = GraftBridge.checkpoint(kmAssign(e, cents).select("vec_id", "cell"))
    val ci = cents.select(col("cell").as("c_cell"),
        posexplode(col("c_emb")).as(Seq("pos0", "c")))
      .select(col("c_cell"), (col("pos0") + 1).cast("long").as("cpos0"),
        floor(col("c") * 1e6).cast("long").as("cci"))
    val vi = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("vf").cast("double") * 1e6).cast("long").as("vi0"))
    // residual element table in the pq helpers' (vec_id, pos, m, vi)
    // shape — M = 1 subspace over the full dimension; five plan
    // branches read it, so it is cut once
    val e2 = GraftBridge.checkpoint(vi.join(assign, "vec_id")
      .join(broadcast(ci),
        col("cell") === col("c_cell") && col("pos") === col("cpos0"))
      .select(col("vec_id"), col("cell"), col("pos"), lit(0L).as("m"),
        (col("vi0") - col("cci")).as("vi")))
    val cb0 = e2.filter(col("vec_id") < 8)
      .select(col("vec_id").as("k"), col("pos").as("cpos"), col("vi").as("ci"))
    // a1/cb1 single-reference -> uncut (r14 cut-trim, see pqCodebook)
    val a1 = pqArgmin(pqDists(e2.drop("cell"), cb0)).drop("dist_sq")
    val cb1 = pqUpdate(e2.drop("cell"), a1)
    val fin = pqArgmin(pqDists(e2.drop("cell"), cb1))
      .select(col("vec_id").as("f_id"), col("k").as("rcode"),
        col("dist_sq").as("d2"))
    val d1 = e2.groupBy("vec_id", "cell")
      .agg(sum(col("vi") * col("vi")).as("d1"))
    d1.join(fin, col("vec_id") === col("f_id"))
      .groupBy("cell", "rcode")
      .agg(count(lit(1)).as("n_vecs"),
        sum("d1").as("sum_d1"), sum("d2").as("sum_d2"))
      .select(col("cell"), col("rcode"), col("n_vecs"),
        col("sum_d1"), col("sum_d2"),
        when(col("sum_d1") === 0L, lit(0.0)).otherwise(
          round(lit(1.0) - col("sum_d2").cast("double")
            / col("sum_d1").cast("double"), 4)).as("distortion_drop"))
      .coalesce(1) // ≤ C·K rows: the terminal sort needs no range exchange
      .orderBy("cell", "rcode")
  }

  /** Simplified-silhouette eval of the trained k-means (Hruschka et
    * al.'s centroid form of Rousseeuw's silhouette, public method):
    * per vector, a = cosine distance to the ASSIGNED centroid, b =
    * distance to the runner-up centroid; s = (b−a)/b ∈ [0, 1] (with
    * cosine distances and b the second-best, max(a,b) = b). The
    * per-cell mean is the "is this clustering real" readout every
    * embedding-curation pass checks before trusting cluster-level
    * decisions (SemDeDup pruning, per-cluster sampling) — linear in
    * |V|, unlike the full pairwise silhouette. Engine-exactness:
    * scores live on the same rounded-1e-4 cosine grid as kmAssign
    * (identical argmax tie rule), s scales to an exact e8 integer
    * per vector, and the per-cell mean is ONE double division of
    * exact integers. Same |V|·C broadcast-join shape as training;
    * no window over anything bigger than the |V|-row top-2 rank
    * (partitioned by vec_id). Body factored out for PlansSpec.
    */
  private[graft] def silhouetteBody(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    // r16: the trained C=8 centroids are the session-memoized km8Shared
    // chain (bit-identical to the private 2-round train this replaced;
    // embed_kmeans emits the same centroids as its graded surface).
    val cents = km8Shared(s, d)._1
    val cwn = cents.withColumn("cnrm", norm(col("c_emb")))
    val scores = e.crossJoin(broadcast(cwn))
      .withColumn("kcos", round(
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("cnrm")), 4))
      .select(col("vec_id"), col("cell"),
        round(col("kcos") * 10000).cast("long").as("k4"))
    val w = Window.partitionBy("vec_id").orderBy(col("k4").desc, col("cell"))
    val top2 = scores.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val own = top2.filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"), col("k4").as("a4"))
    val nxt = top2.filter(col("rn") === 2)
      .select(col("vec_id").as("v2"), col("k4").as("b4"))
    val sil = own.join(nxt, col("vec_id") === col("v2"))
      .withColumn("s8",
        // degenerate b4 = 1.0000: runner-up coincides with the
        // vector — silhouette 0 by convention (a = b there too)
        when(col("b4") === 10000L, lit(0L)).otherwise(
          round((col("a4") - col("b4")).cast("double")
            / (lit(10000.0) - col("b4").cast("double")) * lit(1e8))
            .cast("long")))
    sil.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum("s8").cast("double") / (count(lit(1)) * lit(1e8)), 4)
          .as("mean_sil"),
        min("s8").as("min_s8"), max("s8").as("max_s8"))
      .orderBy("cell")
  }

  /** The trained PQ distance table (vec_id, m, k, dist) over the full
    * corpus — codebook training + distance evaluation, memoized
    * across queries (r16): every PQ consumer (sim_knn_pq, recall_pq,
    * ivfpq, the ndcg/rrf retrieval) derives from this one cut. */
  private def pqDistsShared(s: SparkSession, d: String): DataFrame =
    SessionMemo.memo(s, d, "pqDists") {
      // The element table is read lazily: each checkpoint job reuses
      // pqElems' vec_id exchange across its references.
      val e = pqElems(s, d)
      GraftBridge.checkpoint(pqDists(e, pqCodebook(e)))
    }

  /** ADC top-3 search over a prebuilt PQ distance table. */
  private def knnPqFrom(dists: DataFrame): DataFrame = {
    val Q = 10
    val adc = adcScores(pqCodesPivot(pqArgmin(dists)), qDistMap(dists, Q))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("vec_id").as("n_id"),
        col("adc_dist"))
      .coalesce(1) // ≤ 3·Q rows: the terminal sort needs no range exchange
      .orderBy("q_id", "rnk")
  }

  /** Database codes pivoted to one row per vector (c0..c7) — ONE
    * partial agg over the |V|·M argmin rows (r15 verdict #1: the old
    * shape joined the |V|·M code rows to the Q·M·K broadcast distance
    * table and re-aggregated |V|·M·Q rows per query; the pivot pays
    * the M-fold collapse once, before the query fanout). */
  private def pqCodesPivot(argmin: DataFrame): DataFrame =
    argmin.groupBy("vec_id")
      .agg(min(when(col("m") === 0, col("k"))).as("c0"),
        (1 to 7).map(m =>
          min(when(col("m") === m, col("k"))).as(s"c$m")): _*)

  /** Per-query ADC lookup table as ONE map column keyed m·16+k — the
    * Q·M·K distance rows collapse to Q broadcastable rows; lookups by
    * key are order-independent, so collect_list's nondeterminism
    * cannot surface. */
  private def qDistMap(dists: DataFrame, q: Int): DataFrame =
    dists.filter(col("vec_id") < q)
      .groupBy(col("vec_id").as("q_id"))
      .agg(map_from_entries(collect_list(struct(
        (col("m") * 16 + col("k")).cast("int").as("mk"),
        col("dist")))).as("dmap"))

  /** ADC distance = Σ_m dmap[m·16 + c_m] — a fixed 8-term integer sum
    * rendered as ONE expression per (query, vector) row: no per-code
    * join fanout, no post-join aggregation, and the exact same longs
    * the old groupBy summed (bit-identical output). */
  private def adcScores(codesP: DataFrame, qmap: DataFrame): DataFrame =
    codesP.join(broadcast(qmap), col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist", (0 to 7).map(m =>
        element_at(col("dmap"), (lit(m * 16) + col(s"c$m")).cast("int")))
        .reduce(_ + _))
      .select("q_id", "vec_id", "adc_dist")

  // ---- Product quantization (M=8 subspaces × K=16 codes, TRAINED) ----
  // The codebook is k-means-trained PER SUBSPACE: deterministic init
  // (the K lowest-id vectors' sub-vectors, as before), then two fixed
  // Lloyd iterations whose centroid updates are exact integer floor
  // divisions — engine-identical, partition-order-independent. Every
  // distance sums FLOOR(v·1e6) integer squares. Plan shape per pass:
  // codebook side is ≤ K·dim rows (broadcast), the element join is
  // map-side, partial aggs collapse |V|·dim·K terms to |V|·M·K sums
  // before any shuffle. At 100 TB each training pass would persist its
  // assignment; here the ~6-stage unrolled plan is dimension-cheap.

  /** Sub-vector element table (vec_id, pos, m, vi) — vi = ⌊v·1e6⌋. */
  private def pqElems(s: SparkSession, d: String): DataFrame =
    // repartition by vec_id BEFORE the 64× explode: the local testdata
    // is a single-row-group parquet file (one scan task), so without
    // it the |V|·64-row element expansion — and the 16×-wider ADC
    // distance intermediates downstream — ran SERIALLY in one task
    // (r14 audit: ~4 s of single-core work inside sim_knn_pq's
    // chains). On a real multi-file table the scan parallelizes
    // naturally and this exchange moves 2000-row batches, not the
    // exploded elements.
    Tables.embeddings(s, d)
      .repartition(8, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        floor(col("vf").cast("double") * 1e6).cast("long").as("vi"))
      .withColumn("m", expr("(pos - 1) div 8"))

  /** Per-(vector, subspace, code) integer L2 distances vs codebook
    * cb(k, cpos, ci). The pos = cpos equi-join lands each codeword's
    * coordinates in its own subspace automatically. */
  private def pqDists(e: DataFrame, cb: DataFrame): DataFrame =
    e.join(broadcast(cb), col("pos") === col("cpos"))
      .groupBy(col("vec_id"), col("m"), col("k"))
      .agg(sum((col("vi") - col("ci")) * (col("vi") - col("ci"))).as("dist"))

  /** Argmin code per (vector, subspace) — lexicographic struct-min,
    * ties to the lower code id (mirrors the oracle's row_number). */
  private def pqArgmin(dists: DataFrame): DataFrame =
    dists.groupBy("vec_id", "m")
      .agg(min(struct(col("dist"), col("k"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.k").as("k"),
        col("best.dist").as("dist_sq"))

  /** Lloyd update: new codeword coordinate = floor-mean of the
    * assigned sub-vectors' integer coords. The explicit non-negative
    * mod makes the division an exact multiple, so integer `div`
    * (truncation) equals floor division on both engines. */
  private def pqUpdate(e: DataFrame, assign: DataFrame): DataFrame =
    e.join(assign.select(col("vec_id").as("av"), col("m").as("am"),
        col("k").as("ak")),
        col("vec_id") === col("av") && col("m") === col("am"))
      .groupBy(col("ak"), col("pos"))
      .agg(sum("vi").as("sv"), count(lit(1)).as("cnt"))
      .select(col("ak").as("k"), col("pos").as("cpos"),
        expr("(sv - ((sv % cnt) + cnt) % cnt) div cnt").as("ci"))

  /** Trained codebook: init → assign → update → assign → update.
    * K = 16 with training measured recall@3 0.233 vs 0.133 for the r3
    * first-4 codebook, at distortion 0.072 vs 0.150 (sf0.01 sweep of
    * K ∈ {4, 8, 16} × {trained, untrained}). The trained codebook is
    * cut (r5 verdict #4 / PLANS.md unrolled-loop rule): it is
    * K·dim-sized, and cutting it pins the Lloyd chain to one
    * execution however many times the codebook is referenced
    * downstream (codes + distance table in sim_knn_pq, the argmin in
    * embed_pq). */
  private def pqCodebook(e: DataFrame): DataFrame = {
    val c0 = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("k"), col("pos").as("cpos"), col("vi").as("ci"))
    // The assign→update→assign→update chain is SINGLE-REFERENCE
    // (each step feeds only the next, e is cut), so the plan
    // grows linearly across the 4 steps — no intermediate cuts
    // needed; only the trained codebook, which every consumer
    // (codes, distance tables, argmins) references repeatedly, is
    // cut. The r14 stage audit priced each eager cut action at
    // ~100–160 ms of scheduling floor — 3 actions saved per
    // PQ-composing query at identical output.
    val a1 = pqArgmin(pqDists(e, c0)).drop("dist_sq")
    val c1 = pqUpdate(e, a1)
    val a2 = pqArgmin(pqDists(e, c1)).drop("dist_sq")
    GraftBridge.checkpoint(pqUpdate(e, a2))
  }

  /** All-but-the-top spectral readout body - see the embed_abtt
    * queries entry; factored so PlansSpec can lock its plan. */
  private[graft] def abttBody(s: SparkSession, d: String): DataFrame = {
      // All-but-the-top spectral readout (r10; Mu & Viswanath 2018,
      // the public post-processing that subtracts the mean and top
      // principal components to restore isotropy): the DECISION INPUT
      // for that transform — how much variance the top PC of the
      // CENTERED cloud carries, and what the next PC would still
      // carry after removing it (share1 >> share2 ⇒ ABTT buys real
      // isotropy; share1 ≈ share2 ⇒ it just rotates noise). The
      // centered Gram never materializes centered vectors: Gc[i,j] =
      // n²·M[i,j] − n·S_i·S_j from the SAME ⌊v·1e3⌋ integer Gram M
      // as embed_top_pc plus per-dim integer sums — all exact longs
      // (n²·M ~ n³·10⁶: fine to ~10⁶ vectors, DECIMAL(38) lift
      // documented past that). λ₁ via 3 power steps on the d²-row
      // (the top_pc in-row fixed-order fold discipline), then a
      // Hotelling deflation Gc − λ₁·u₁u₁ᵀ IN-ROW and a second
      // 3-step iteration for λ₂ — both engines run identical double
      // chains. The d²-fanout self-join is the only data-sized pass;
      // everything after is one 4096-element row.
      val D = PcD
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "vf")))
        .select(col("vec_id"), col("j"),
          floor(col("vf").cast("double") * 1e3).cast("long").as("q"))
      val m = u.as("a").join(u.as("b"), "vec_id")
        .groupBy(col("a.j").as("i"), col("b.j").as("jj"))
        .agg(sum(col("a.q") * col("b.q")).as("m"))
      val sums = u.groupBy("j").agg(sum("q").as("sq"))
      val si = sums.select(col("j").as("i"), col("sq").as("si"))
      val sj = sums.select(col("j").as("jj"), col("sq").as("sj"))
      val ncnt = Tables.embeddings(s, d).agg(count(lit(1)).as("nv"))
      val gc = m.join(broadcast(si), Seq("i"))
        .join(broadcast(sj), Seq("jj"))
        .crossJoin(broadcast(ncnt))
        .select(col("i"), col("jj"),
          (col("nv") * col("nv") * col("m")
            - col("nv") * col("si") * col("sj")).as("g"))
      val grow = gc
        .select(struct((col("i") * D + col("jj")).as("k"), col("g")).as("e"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(transform(col("es"), x => x.getField("g").cast("double")).as("mf"))
      val p1 = pcIterate(grow, "mf", "x1")
        .withColumn("lam1", pcRayleigh("mf", "x1"))
        .withColumn("tr",
          aggregate(sequence(lit(0), lit(D - 1)), lit(0.0),
            (acc, i) => acc + element_at(col("mf"), i * D + i + 1)))
      // Hotelling deflation in-row: mf2[k] = mf[k] − λ₁·u₁[k/D]·u₁[k%D].
      val defl = GraftBridge.checkpoint(p1.withColumn("mf2",
        transform(sequence(lit(0), lit(D * D - 1)), k =>
          element_at(col("mf"), k + 1)
            - col("lam1")
              * element_at(col("x1"), (k / lit(D)).cast("int") + 1)
              * element_at(col("x1"), pmod(k, lit(D)) + 1))))
      val p2 = pcIterate(defl, "mf2", "x2")
        .withColumn("lam2", pcRayleigh("mf2", "x2"))
      val one = p2.crossJoin(broadcast(ncnt.select(col("nv").as("n"))))
      one.select(
          lit(1L).as("pc"),
          col("n").as("n_vecs"),
          round(col("lam1") / (col("n") * col("n")).cast("double") / 1e6, 4)
            .as("lam_v2"),
          round(col("lam1") / col("tr"), 4).as("share"))
        .unionAll(one.select(
          lit(2L).as("pc"),
          col("n").as("n_vecs"),
          round(col("lam2") / (col("n") * col("n")).cast("double") / 1e6, 4)
            .as("lam_v2"),
          round(col("lam2") / (col("tr") - col("lam1")), 4).as("share")))
        .orderBy("pc")
  }

  /** IVF routing-depth body - see the sim_ivf_routing_depth queries
    * entry; factored so PlansSpec can lock its plan. */
  private[graft] def routingDepthBody(s: SparkSession, d: String): DataFrame = {
      // IVF routing-depth census (r10): for each gated query, the
      // RANK of the cell holding its true nearest neighbor in the
      // query→centroid similarity order — i.e. the nprobe a probe
      // would need to even SEE the true NN. This is the tuning
      // measurement behind sim_recall_ivf's nprobe sweep: recall@k
      // tells you what a depth buys, routing depth tells you WHY
      // (boundary queries whose NN lives in cell rank 3 explain the
      // nprobe=4 recall jump). Composes the trained quantizer
      // (ivfTrain, cut once) with the graded brute truth;
      // ranks ride rounded cosines with ties → lower cell, the
      // kmAssign convention. Gated |Q|=10 — eval cost, not index
      // cost; the only data-sized passes are the train and the one
      // assignment it already cuts.
      val (cents, assign) = ivfTrain(s, d)
      val truth = queries("sim_knn")(s, d).filter(col("rk") === 1)
        .select(col("q_id"), col("n_id").as("true_nn"))
      val nnCell = assign
        .join(broadcast(truth), col("vec_id") === col("true_nn"))
        .select(col("q_id"), col("true_nn"), col("cell").as("nn_cell"))
      val qv = assign.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"), col("nrm"))
      val cwn = cents.withColumn("cnrm", norm(col("c_emb")))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("kcos").desc, col("cell"))
      val ranks = qv.crossJoin(broadcast(cwn))
        .withColumn("kcos", round(
          dot(col("embedding"), col("c_emb")) / (col("nrm") * col("cnrm")), 4))
        .withColumn("prk", row_number().over(w).cast("long"))
        .select(col("vec_id").as("q_id"), col("cell"), col("prk"))
      nnCell.join(ranks, nnCell("q_id") === ranks("q_id")
          && col("nn_cell") === col("cell"))
        .select(nnCell("q_id"), col("true_nn"),
          col("nn_cell").cast("long").as("nn_cell"),
          col("prk").as("depth"))
        .orderBy("q_id")
  }

  val queries: Map[String, Q] = Map(
    "sim_cosine_pairs" -> ((s, d) => {
      // Norms are projected per-side BEFORE the pair join so each is
      // computed |V| times, not |V|²/2 times.
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        norm(col("embedding")).as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        norm(col("embedding")).as("b_nrm"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("cos", round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4))
        .filter(col("cos") > 0.25)
        .select("a_id", "b_id", "cos")
        .orderBy("a_id", "b_id")
    }),

    "sim_threshold_sweep" -> ((s, d) => {
      // Dedup-threshold sensitivity curve: how many near-dup pairs
      // each candidate cosine threshold would flag — the eval a
      // pipeline owner reads before committing to a cutoff (too low
      // drops real data, too high ships duplicates). One pass over
      // the gated pair set, swept against a broadcast 5-row threshold
      // frame; at corpus scale the pair set comes from the LSH bucket
      // path and the sweep stays a constant-size cross join.
      import s.implicits._
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 200)
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        norm(col("embedding")).as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        norm(col("embedding")).as("b_nrm"))
      val cos = a.join(b, col("a_id") < col("b_id"))
        .select(round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4)
          .as("c"))
      val ths = Seq(0.2, 0.25, 0.3, 0.35, 0.4).toDF("th")
      cos.crossJoin(broadcast(ths))
        .groupBy("th")
        .agg(count(when(col("c") >= col("th"), 1)).as("n_pairs"))
        .orderBy("th")
    }),

    "sim_range_search" -> ((s, d) => {
      // ε-neighborhood (range) search over the WHOLE corpus (r7): for
      // every vector, its neighbors at rounded cosine ≥ 0.3 among
      // LSH-bucket co-residents — the radius-query sibling of the
      // top-k family (dedup wants "everything this similar", not "the
      // 5 most similar"). The candidate set is bucket-local
      // (one equi-join on the 8-bit signature — never all-pairs, the
      // same scale shape as dedup_near_minhash), pairs materialize
      // once with a_id < b_id and symmetrize by a cheap union, and
      // the per-vector rollup sums DECIMAL-cast cosines so the mean
      // is partition-order-exact. Cosines are computed on the EXACT
      // ⌊v·1e6⌋ integer grid (the MIPS/PQ discipline): dot and
      // squared norms are exact integer-valued doubles (≤ 2.8e14 <
      // 2⁵³ — every partial sum exact), so ip/(√n2a·√n2b) is
      // bit-identical across engines regardless of summation order —
      // a float-dot formulation hit a round-4 tie at sf0.1 when the
      // full-corpus pair count first sampled a boundary. At 100 TB
      // the bucket join IS the scale path (recall graded by the
      // sim_recall_* family); no-neighbor vectors drop — the rollup
      // is ≤ corpus-sized.
      val ie = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"),
          lshBucket(col("embedding")).as("bucket"))
        .select(col("vec_id"), col("iv"), col("bucket"),
          sqrt(dot(col("iv"), col("iv"))).as("nrm"))
      val a = ie.select(col("bucket"), col("vec_id").as("a_id"),
        col("iv").as("a_iv"), col("nrm").as("a_nrm"))
      val b = ie.select(col("bucket"), col("vec_id").as("b_id"),
        col("iv").as("b_iv"), col("nrm").as("b_nrm"))
      val pairs = a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", round(
          dot(col("a_iv"), col("b_iv")) / (col("a_nrm") * col("b_nrm")), 4))
        .filter(col("cos") >= 0.3)
      // the mean is emitted as an exact scaled integer (Σ cos·1e4 div
      // n): a double mean of round-4 cosines lands on .00005 ties
      // where the engines' round-half conventions differ (measured at
      // sf0.1 — eight vectors, every mean off by exactly 1e-4)
      val sym = pairs
        .select(col("a_id").as("vec_id"),
          round(col("cos") * 10000).cast("long").as("c4"))
        .union(pairs.select(col("b_id").as("vec_id"),
          round(col("cos") * 10000).cast("long").as("c4")))
      sym.groupBy("vec_id")
        .agg(count(lit(1)).as("n_neighbors"),
          expr("sum(c4) div count(1)").as("mean_cos_e4"),
          max(col("c4")).as("max_cos_e4"))
        .orderBy("vec_id")
    }),

    "sim_knn_hamming" -> ((s, d) => {
      // Binary (sign) quantization + Hamming kNN (r8) — the 1-bit
      // retrieval path modern embedding serving ships beside int8/PQ:
      // 64 dims collapse to 64 BITS (64× less storage than float32;
      // distance = popcount(xor) — a handful of CPU instructions).
      // Bits pack into TWO 32-bit halves, deliberately: packing bit
      // 63 of one BIGINT trips signed-overflow edges differently per
      // engine, and the two-word form is how a real >64-dim index
      // lays out words anyway. Sign rule v > 0 (exact-zero → 0) is
      // bit-identical on both engines; every distance is an integer.
      // Gated brute shape (|Q|=10) like the rest of the kNN family —
      // at scale the same codes feed a multi-index/LSH path.
      val bits = "(v, i) -> IF(v > CAST(0 AS FLOAT), " +
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))"
      def pack(from: Int) =
        expr(s"aggregate(zip_with(slice(embedding, $from, 32), " +
          s"sequence(0, 31), $bits), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      val packed = Tables.embeddings(s, d).select(col("vec_id"),
        pack(1).as("lo"), pack(33).as("hi"))
      val q = packed.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"),
        col("lo").as("q_lo"), col("hi").as("q_hi"))
      val n = packed.select(col("vec_id").as("n_id"),
        col("lo").as("n_lo"), col("hi").as("n_hi"))
      val w = Window.partitionBy("q_id").orderBy(col("hdist"), col("n_id"))
      q.join(n, col("q_id") =!= col("n_id"))
        .withColumn("hdist", expr(
          "CAST(bit_count(q_lo ^ n_lo) + bit_count(q_hi ^ n_hi) AS BIGINT)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id", "hdist", "rk")
        .orderBy("q_id", "rk")
    }),

    "embed_matryoshka_eval" -> ((s, d) => {
      // Matryoshka truncation eval (Kusupati et al. 2022, public
      // method): recall@5 of top-k search using only the FIRST m
      // dimensions (m ∈ {8,16,32}) against the full-64-dim truth set
      // — the eval that licenses serving truncated embeddings (MRL's
      // whole point: m/64 of the storage and FLOPs at a measured
      // recall cost). Truth = the graded sim_knn top-5; truncated
      // legs score on the exact ⌊v·1e6⌋ integer-grid PREFIX, same
      // rank tie-breaks. The truth set is cut — three legs left-join
      // it. Gated brute-force shape (|Q|=10),
      // like every truth set in the recall family.
      val ie = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6).cast("double")).as("iv"))
      // cut, not persist (r15): three truncated-prefix legs left-join
      // the truth inside one terminal union job — a lazy persist lets
      // them race the cold cache (the tierUniverse race class).
      val truth = knnTruthShared(s, d)
      def knnAt(m: Int): DataFrame = {
        val t = ie.select(col("vec_id"), slice(col("iv"), 1, m).as("tv"))
          .withColumn("tnrm", sqrt(dot(col("tv"), col("tv"))))
        val q = t.filter(col("vec_id") < 10).select(col("vec_id").as("t_q"),
          col("tv").as("q_tv"), col("tnrm").as("q_nrm"))
        val n = t.select(col("vec_id").as("t_n"), col("tv").as("n_tv"),
          col("tnrm").as("n_nrm"))
        val w = Window.partitionBy("t_q").orderBy(col("cos").desc, col("t_n"))
        q.join(n, col("t_q") =!= col("t_n"))
          .withColumn("cos", round(
            dot(col("q_tv"), col("n_tv")) / (col("q_nrm") * col("n_nrm")), 4))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("t_q"), col("t_n"))
      }
      Seq(8, 16, 32).map { m =>
        truth
          .join(knnAt(m),
            col("q_id") === col("t_q") && col("n_id") === col("t_n"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_truth"), count(col("t_q")).as("n_hits"))
          .select(lit(m.toLong).as("m_dims"), col("q_id"), col("n_truth"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
      }.reduce(_ unionAll _).orderBy("m_dims", "q_id")
    }),

    "sim_mmr_diversify" -> ((s, d) => {
      // Maximal-Marginal-Relevance selection (Carbonell & Goldstein
      // 1998, public method) — the diversity-aware sampler a training
      // pipeline runs AFTER dedup: per label, shortlist the 6 vectors
      // most relevant to the label centroid, then pick k=3 greedily by
      // MMR score 0.7·rel − 0.3·max-sim-to-already-selected. The
      // greedy recursion is UNROLLED (k=3): each step is an argmax
      // struct-min over the |labels|·6 candidate frame joined to the
      // |labels|·36 pairwise-sim table — everything after the corpus
      // scan is dimension-sized, so the iterative selection costs
      // three tiny joins, not three corpus passes. All cosines on the
      // exact ⌊v·1e6⌋ integer grid, rounded 4; every tie breaks to
      // the lower vec_id; MMR scores are one fixed-order double
      // expression from those rounded inputs — engine-identical.
      val iu = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"))
        .withColumn("inrm", sqrt(dot(col("iv"), col("iv"))))
      // label centroid on the grid (exact integer sums / n)
      val cent = iu
        .select(col("label"), posexplode(col("iv")).as(Seq("pos", "w")))
        .groupBy("label", "pos")
        .agg((sum(col("w").cast("long")).cast("double") / count(lit(1))).as("c"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
          _.getField("c")).as("c_iv"))
        .withColumn("cnrm", sqrt(dot(col("c_iv"), col("c_iv"))))
      val rel = iu.join(broadcast(cent), "label")
        .withColumn("rel", round(
          dot(col("iv"), col("c_iv")) / (col("inrm") * col("cnrm")), 4))
      val wTop = Window.partitionBy("label").orderBy(col("rel").desc, col("vec_id"))
      val cand = rel.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 6)
        .select(col("label"), col("vec_id"), col("iv"), col("inrm"), col("rel"))
      val sims = cand.select(col("label"), col("vec_id").as("i_id"),
          col("iv").as("i_iv"), col("inrm").as("i_nrm"))
        .join(cand.select(col("label"), col("vec_id").as("j_id"),
          col("iv").as("j_iv"), col("inrm").as("j_nrm")), Seq("label"))
        .filter(col("i_id") =!= col("j_id"))
        .select(col("label"), col("i_id"), col("j_id"), round(
          dot(col("i_iv"), col("j_iv")) / (col("i_nrm") * col("j_nrm")), 4)
          .as("sim"))
      // MMR scores live on an EXACT integer 1e5 grid: rel/sim are
      // already round-4 values, so rel_e4 = round(rel·1e4) is an exact
      // integer and score_e5 = 7·rel_e4 − 3·max_sim_e4 is pure integer
      // arithmetic — 0.7·rel − 0.3·sim as doubles lands on .xxxxx5
      // round-half ties at the 4th decimal roughly half the time
      // (caught by the sf0.01 rehearsal; the sim_range_search mean
      // lesson at selection grain).
      val c0 = cand.select(col("label"), col("vec_id"),
        round(col("rel") * 10000).cast("long").as("rel_e4"))
      val simsI = sims.select(col("label"), col("i_id"), col("j_id"),
        round(col("sim") * 10000).cast("long").as("sim_e4"))
      // step 1: pure relevance argmax (empty selected set ⇒ score 7·rel)
      val s1 = c0.groupBy("label")
        .agg(min(struct((-col("rel_e4")).as("ns"), col("vec_id").as("id"))).as("m"))
        .select(col("label"), col("m.id").as("s1"),
          (lit(7L) * -col("m.ns")).as("sc1"))
      // step 2: MMR against {s1}
      val r2 = c0.join(s1.select("label", "s1"), "label")
        .filter(col("vec_id") =!= col("s1"))
        .join(simsI.select(col("label").as("l2"), col("i_id"), col("j_id"),
          col("sim_e4").as("m1")),
          col("label") === col("l2") && col("vec_id") === col("i_id")
            && col("s1") === col("j_id"))
        .withColumn("score", lit(7L) * col("rel_e4") - lit(3L) * col("m1"))
      val s2 = r2.groupBy("label")
        .agg(min(struct((-col("score")).as("ns"), col("vec_id").as("id"))).as("m"))
        .select(col("label"), col("m.id").as("s2"), (-col("m.ns")).as("sc2"))
      // step 3: MMR against {s1, s2}
      val r3 = r2.select(col("label"), col("vec_id"), col("rel_e4"),
          col("s1"), col("m1"))
        .join(s2.select("label", "s2"), "label")
        .filter(col("vec_id") =!= col("s2"))
        .join(simsI.select(col("label").as("l3"), col("i_id"), col("j_id"),
          col("sim_e4").as("m2")),
          col("label") === col("l3") && col("vec_id") === col("i_id")
            && col("s2") === col("j_id"))
        .withColumn("score",
          lit(7L) * col("rel_e4") - lit(3L) * greatest(col("m1"), col("m2")))
      val s3 = r3.groupBy("label")
        .agg(min(struct((-col("score")).as("ns"), col("vec_id").as("id"))).as("m"))
        .select(col("label"), col("m.id").as("s3"), (-col("m.ns")).as("sc3"))
      s1.select(col("label"), lit(1L).as("pick"), col("s1").as("vec_id"),
          col("sc1").as("mmr_score_e5"))
        .unionAll(s2.select(col("label"), lit(2L).as("pick"),
          col("s2").as("vec_id"), col("sc2").as("mmr_score_e5")))
        .unionAll(s3.select(col("label"), lit(3L).as("pick"),
          col("s3").as("vec_id"), col("sc3").as("mmr_score_e5")))
        .orderBy("label", "pick")
    }),

    "dedup_semdedup" -> ((s, d) => {
      // SemDeDup-shaped semantic dedup (Abbas et al. 2023, public
      // method): cluster the corpus with the TRAINED coarse quantizer
      // (ivfTrain's C=16, 2 Lloyd iterations — the same machinery the
      // IVF index uses), then enumerate pairs ONLY within a cluster
      // and drop the higher-id member of every pair at rounded cosine
      // ≥ 0.45 (keep-first, the dedup-family convention). Emits the
      // per-cluster census a curation run reviews before applying.
      // Cosines on the exact ⌊v·1e6⌋ integer grid (sim_range_search's
      // cross-engine lesson). Scale shape: THE SemDeDup argument —
      // Σ|cell|² pairs instead of |V|²/2, with cluster count scaling
      // to keep cells bounded. The scaling is HIERARCHICAL (r11, from
      // the sf10 probe that measured flat C=16 going quadratic at
      // 100×): pairs enumerate within (cell, sub) where subSplit caps
      // sub-cells at 625 members — identity at every graded SF, the
      // linear-pair production shape at 100×. The census stays keyed
      // by the coarse cell (the unit a dedup audit reads); training is the
      // memoized cut, the pair join is one equi-join on (cell, sub).
      val (_, assign) = ivfTrain(s, d)
      val sub = subSplit(assign, lit(true))
      val ie = assign.select(col("vec_id"), col("cell"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"))
        .withColumn("inrm", sqrt(dot(col("iv"), col("iv"))))
      val ies = ie.join(sub.select("vec_id", "sub"), "vec_id")
      val a = ies.select(col("cell"), col("sub"), col("vec_id").as("a_id"),
        col("iv").as("a_iv"), col("inrm").as("a_nrm"))
      val b = ies.select(col("cell"), col("sub"), col("vec_id").as("b_id"),
        col("iv").as("b_iv"), col("inrm").as("b_nrm"))
      val dups = a.join(b, Seq("cell", "sub")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", round(
          dot(col("a_iv"), col("b_iv")) / (col("a_nrm") * col("b_nrm")), 4))
        .filter(col("cos") >= 0.45)
      val dropped = dups.select(col("cell"), col("b_id")).distinct()
      val members = ie.groupBy("cell").agg(count(lit(1)).as("n_members"))
      val pairc = dups.groupBy("cell").agg(count(lit(1)).as("n_dup_pairs"))
      val dropc = dropped.groupBy("cell").agg(count(lit(1)).as("n_dropped"))
      members.join(pairc, Seq("cell"), "left").join(dropc, Seq("cell"), "left")
        .select(col("cell"), col("n_members"),
          coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
        .orderBy("cell")
    }),

    // Bodies factored out for PlansSpec plan locks.
    "dedup_incremental_embedding" -> ((s, d) => incEmbBody(s, d)),

    "sample_kcenter" -> ((s, d) => kcenterBody(s, d)),

    "sim_knn" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          norm(col("embedding")).as("q_nrm"))
      val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        norm(col("embedding")).as("n_nrm"))
      val scored = q.join(n, col("q_id") =!= col("n_id"))
        .withColumn("cos", round(
          dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 4))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("q_id", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    }),

    "sim_knn_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"),
          lshBucket(col("embedding")).as("bucket"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket"))
      val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"), col("bucket"))
      val scored = q.join(n, Seq("bucket")).filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", round(
          dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")), 4))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("q_id", "bucket", "n_id", "cos", "rk")
        .orderBy("q_id", "rk")
    }),

    "sim_recall_eval" -> ((s, d) => {
      // ANN quality gate: per-query recall@5 of the LSH bucketed
      // search against the brute-force baseline — the eval every ANN
      // deployment needs before trusting its index. Composes the two
      // graded kNN operators (identical rank semantics on both sides),
      // left-joins LSH hits onto the brute truth set, and aggregates
      // hit counts per query. Cost is the two kNN plans + dimension-
      // sized joins; no new scan of the embedding table.
      val brute = knnTruthShared(s, d)
      val lsh = queries("sim_knn_lsh")(s, d)
        .select(col("q_id").as("l_q"), col("n_id").as("l_n"), lit(1).as("hit"))
      val lshCnt = lsh.groupBy("l_q").agg(count(lit(1)).as("n_lsh0"))
      brute
        .join(lsh, col("q_id") === col("l_q") && col("n_id") === col("l_n"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_brute"), count(col("hit")).as("n_hits"))
        .join(lshCnt, col("q_id") === col("l_q"), "left")
        .select(col("q_id"), col("n_brute"),
          coalesce(col("n_lsh0"), lit(0L)).as("n_lsh"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_brute"), 4).as("recall"))
        .orderBy("q_id")
    }),

    // Body factored out for PlansSpec plan locks.
    "sim_recall_hamming" -> ((s, d) => recallHammingBody(s, d)),

    // NSW-lite greedy beam search over the mutual-kNN graph (r15) +
    // its recall gate; bodies factored out for PlansSpec plan locks.
    "sim_knn_graph" -> ((s, d) =>
      knnGraphShared(s, d)),
    "sim_recall_graph" -> ((s, d) => recallGraphBody(s, d)),

    "sim_recall_ivf" -> ((s, d) => {
      // IVF quality gate: per-query recall@5 PER NPROBE (r5) — the
      // nprobe ∈ {1, 2, 4} sweep a deployment reads before choosing
      // its probe budget (measured mean recall at sf0.01: 0.82 /
      // 0.84 / 0.92 — nprobe=4 is the first depth clearing 0.9,
      // which is why sim_knn_ivf ships with 4). Completes the
      // per-path recall family (LSH:
      // sim_recall_eval, PQ: sim_recall_pq) so every ANN scale path
      // ships with its accuracy eval. The coarse quantizer trains
      // ONCE (the memoized cut); both probe depths search the same
      // assignment, and the brute truth set is cut because each sweep
      // row left-joins it.
      // cut + par (r15, the tierUniverse race class): the truth set is
      // joined by THREE probe-depth legs inside ONE terminal union job
      // — lazily persisted, those stages race the cold cache and each
      // materializes the brute scoring; the eager cut runs concurrently
      // with the trained chain's own cuts.
      val (brute, ta) = par(
        knnTruthShared(s, d),
        ivfTrain(s, d))
      val (cents, assign) = ta
      def recallAt(np: Int): DataFrame = {
        val ivf = ivfProbe(cents, assign, np)
          .select(col("q_id").as("i_q"), col("n_id").as("i_n"), lit(1).as("hit"))
        brute
          .join(ivf, col("q_id") === col("i_q") && col("n_id") === col("i_n"),
            "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_brute"), count(col("hit")).as("n_hits"))
          .select(lit(np.toLong).as("nprobe"), col("q_id"), col("n_brute"),
            col("n_hits"),
            round(col("n_hits").cast("double") / col("n_brute"), 4).as("recall"))
      }
      recallAt(1).union(recallAt(2)).union(recallAt(4))
        .orderBy("nprobe", "q_id")
    }),

    // Body factored out for the PlansSpec plan lock.
    "sim_ndcg_eval" -> ((s, d) => ndcgBody(s, d)),

    "sim_rrf_fusion" -> ((s, d) => rrfBody(s, d)),

    "multimodal_decode_hist" -> ((s, d) => {
      // REAL image decode, hash-graded (r7): synthesize a deterministic
      // grayscale PNG per doc (pixel g = (doc_id·7 + x·3 + y·5) mod
      // 256, size keyed off doc_id), push it through the full
      // multimodal pipeline — javax.imageio metadata (format/width/
      // height via the reader's cheap header path) + the
      // ImageIoCodec luminance-histogram decode under the batched
      // mapPartitions stage — and emit per-(doc, luminance-bucket)
      // PIXEL COUNTS. DuckDB cannot decode PNGs, but it can predict
      // this decode EXACTLY by arithmetic: the BT.601 fold and the
      // bucket floor are written identically on both sides (same
      // left-assoc double ops), and the normalized float32 histogram
      // inverts exactly (|share·n − h| ≤ h·2⁻²³ < ½), so every output
      // cell is integer/string — no float ever crosses the compare.
      // Scale shape: |docs| synthesized blobs → CPU-bound decode in
      // mapPartitions batches (the real-corpus plan, where partition
      // count is the parallelism knob) → in-row posexplode → broadcast
      // meta join; no wide shuffle anywhere.
      import s.implicits._
      import graft.multimodal.{MediaRow, Multimodal}
      val media = Tables.documents(s, d)
        .select(col("doc_id")).filter(col("doc_id") < 64)
        .as[Long].map { id =>
          val wpx = 8 + (id % 5).toInt
          val hpx = 6 + (id % 3).toInt
          val img = new java.awt.image.BufferedImage(
            wpx, hpx, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < hpx) {
            var x = 0
            while (x < wpx) {
              val g = ((id * 7 + x * 3 + y * 5) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaRow(id, "image", bos.toByteArray)
        }
      val feats = Multimodal
        .imageFeatures(media, dim = 8, codec = Multimodal.ImageIoCodec)
        .toDF()
        .select(col("media_id").as("doc_id"),
          posexplode(col("features")).as(Seq("bucket", "share")))
      val meta = Multimodal.imageMeta(media, Multimodal.ImageIoCodec).toDF()
        .select(col("media_id").as("m_id"), col("format"),
          col("width"), col("height"))
      feats.join(broadcast(meta), col("doc_id") === col("m_id"))
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bucket").cast("long").as("bucket"),
          round(col("share").cast("double") * col("width") * col("height"))
            .cast("long").as("n_px"))
        .orderBy("doc_id", "bucket")
    }),

    "multimodal_audio_stats" -> ((s, d) => {
      // REAL audio decode, hash-graded (r8, twin of the r7 image path):
      // synthesize a deterministic 16-bit PCM mono WAV per doc
      // (sample[i] = (doc_id·31 + i·7) mod 2001 − 1000, n = 800 +
      // (doc_id mod 5)·160 frames @ 8 kHz), push it through the full
      // multimodal pipeline — RIFF container metadata + WavCodec's
      // javax.sound.sampled PCM decode under the batched mapPartitions
      // stage — and emit per-(doc, 256-sample window) integer stats.
      // DuckDB cannot parse WAV, but 16-bit PCM is LOSSLESS: the
      // write→read round trip returns the exact synthesized integers,
      // so count/Σv²/max|v| per window are pure arithmetic on both
      // sides — no float ever crosses the compare. Scale shape:
      // |docs| blobs → CPU-bound decode in mapPartitions batches
      // (partition count is the parallelism knob; the decoded stream
      // never materializes as a column) → dimension-sized stat rows.
      import s.implicits._
      import graft.multimodal.{MediaRow, Multimodal}
      val media = Tables.documents(s, d)
        .select(col("doc_id")).filter(col("doc_id") < 48)
        .as[Long].map { id =>
          val n = 800 + (id % 5).toInt * 160
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val v = ((id * 31 + i * 7) % 2001 - 1000).toInt
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          MediaRow(id, "audio", bos.toByteArray)
        }
      Multimodal.audioWindowStats(media, windowSamples = 256).toDF()
        .select(col("media_id").as("doc_id"), col("sample_rate"),
          col("channels"), col("win_no"), col("n_samples"), col("sum_sq"),
          col("peak_abs"))
        .orderBy("doc_id", "win_no")
    }),

    "multimodal_frame_census" -> ((s, d) => {
      // Graded video-path census (r8): the frame-SAMPLING pipeline is
      // fully real — fixed-size frame windows past the container
      // header, every-nth selection, typed batched stage — while the
      // video DECODE itself honestly remains the FakeCodec stand-in
      // (no video codec ships in this JVM; the header contract is
      // FakeCodec's 6-byte magic+dims). Blob bytes are deterministic
      // arithmetic (payload[i] = (doc·13 + i·17) mod 251), so every
      // emitted stat — frame byte count (incl. the partial tail
      // frame), byte sum, order-sensitive polynomial hash — is
      // integer-predictable by the oracle without any decoder.
      // Scale shape: |docs| unsplittable blobs → partition-parallel
      // sampling; emitted census rows are |frames|-sized, tiny.
      import s.implicits._
      import graft.multimodal.{MediaRow, Multimodal}
      val media = Tables.documents(s, d)
        .select(col("doc_id")).filter(col("doc_id") < 40)
        .as[Long].map { id =>
          val np = 160 + (id % 5).toInt * 48
          val w = 64 + (id % 3).toInt
          val h = 48
          val header = Array[Byte]('F', 'I',
            ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
            ((h >> 8) & 0xff).toByte, (h & 0xff).toByte)
          val payload = Array.tabulate(np)(i =>
            ((id * 13 + i * 17) % 251).toByte)
          MediaRow(id, "video", header ++ payload)
        }
      Multimodal.sampleFrames(media, frameBytes = 32, everyNth = 3)
        .map { f =>
          var sumB = 0L
          var poly = 0L
          f.frame.foreach { b =>
            val v = (b & 0xff).toLong
            sumB += v
            poly = (poly * 31 + v) % 1000003L
          }
          (f.media_id, f.frame_no.toLong, f.frame.length.toLong, sumB, poly)
        }
        .toDF("doc_id", "frame_no", "n_bytes", "byte_sum", "poly_hash")
        .orderBy("doc_id", "frame_no")
    }),

    "multimodal_video_decode" -> ((s, d) => {
      // REAL video-frame decode, hash-graded (r9, closing the r8
      // verdict's last fake-codec gap): compose the two PROVEN paths —
      // multimodal_frame_census's frame sampler and decode_hist's
      // javax.imageio decode — into a graded video pipeline. Each
      // synthesized container is a FakeCodec 6-byte header plus K
      // fixed-size 1024-byte frame slots, each slot holding a REAL PNG
      // (grayscale g = (doc·7 + frame·11 + x·3 + y·5) mod 256, dims
      // keyed off doc_id) zero-padded to the slot size — a PNG reader
      // stops at IEND, so the padding is invisible to the decode.
      // sampleFrames picks every 2nd slot; each SAMPLED frame then
      // runs the full ImageIoCodec metadata + luminance-histogram
      // decode under the batched mapPartitions stage. DuckDB cannot
      // decode PNGs, but predicts the decode exactly by arithmetic
      // (the decode_hist contract: identical left-assoc BT.601 fold,
      // exact float32-share inversion to integer pixel counts).
      // Scale shape: |docs| unsplittable blobs → partition-parallel
      // sampling → CPU-bound per-frame decode in batches; no wide
      // shuffle anywhere. The decode gate SCALES with the corpus
      // (r9 verdict #7): |docs|/8 clamped to [32, 256] — 32/62/256
      // containers at sf0.001/0.01/0.1, so larger legs exercise more
      // of the decode path while the cost stays bounded; the clamp
      // arithmetic is one count + scalar, identical in the oracle.
      // Slot size is a GENEROUS 1024 B (r9 advice #3): the worst-case
      // synthesized frame encodes ~200 B under the current JDK;
      // MultimodalSpec pins the bound over the full parameter space
      // at test time, and a pathological future encoder overflowing a
      // slot degrades to ImageIoCodec's null-decode path (zero
      // features, "unknown" format) instead of aborting the query.
      import s.implicits._
      import graft.multimodal.{MediaRow, Multimodal}
      val FB = 1024
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val media = Tables.documents(s, d)
        .select(col("doc_id")).crossJoin(broadcast(nDocs))
        .filter(col("doc_id") <
          least(lit(256L), greatest(lit(32L), expr("n_docs div 8"))))
        .select(col("doc_id"))
        .as[Long].map { id =>
          val k = 4 + (id % 3).toInt
          val wpx = 8 + (id % 5).toInt
          val hpx = 6 + (id % 3).toInt
          val header = Array[Byte]('F', 'I',
            ((wpx >> 8) & 0xff).toByte, (wpx & 0xff).toByte,
            ((hpx >> 8) & 0xff).toByte, (hpx & 0xff).toByte)
          val frames = (0 until k).flatMap { f =>
            val img = new java.awt.image.BufferedImage(
              wpx, hpx, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < hpx) {
              var x = 0
              while (x < wpx) {
                val g = ((id * 7 + f * 11 + x * 3 + y * 5) % 256).toInt
                img.setRGB(x, y, (g << 16) | (g << 8) | g)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            val png = bos.toByteArray
            // No query-time require: slot overflow (impossible under
            // the test-pinned bound) would truncate, and ImageIoCodec
            // degrades a broken PNG to zero features, not an abort.
            png.take(FB) ++ new Array[Byte](math.max(0, FB - png.length))
          }
          MediaRow(id, "video", header ++ frames.toArray)
        }
      val sampled = Multimodal.sampleFrames(media, frameBytes = FB, everyNth = 2)
        .map(f => MediaRow(f.media_id * 100 + f.frame_no, "image", f.frame))
      val feats = Multimodal
        .imageFeatures(sampled, dim = 8, codec = Multimodal.ImageIoCodec)
        .toDF()
        .select(col("media_id").as("fid"),
          posexplode(col("features")).as(Seq("bucket", "share")))
      val meta = Multimodal.imageMeta(sampled, Multimodal.ImageIoCodec).toDF()
        .select(col("media_id").as("m_id"), col("format"),
          col("width"), col("height"))
      feats.join(broadcast(meta), col("fid") === col("m_id"))
        .select(expr("fid div 100").as("doc_id"),
          pmod(col("fid"), lit(100)).cast("long").as("frame_no"),
          col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("bucket").cast("long").as("bucket"),
          round(col("share").cast("double") * col("width") * col("height"))
            .cast("long").as("n_px"))
        .orderBy("doc_id", "frame_no", "bucket")
    }),

    "multimodal_join" -> ((s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("label").cast("long").as("label"),
          size(col("embedding")).cast("long").as("dim"), col("n_chars"))
        .orderBy("doc_id")),

    "embed_stats" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "v")))
        .select(col("label").cast("long").as("label"),
          (col("pos0") + 1).cast("long").as("pos"), col("v").cast("double").as("v"))
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), round(avg("v"), 4).as("centroid"),
          round(stddev_samp(col("v")), 4).as("sd"))
        .orderBy("label", "pos")),

    "agg_centroid_udaf" -> ((s, d) =>
      // §2.10 UDAF surface: a typed Aggregator whose buffer is O(dim)
      // (elementwise sums + count), merging map-side like a built-in.
      // Graded as the posexploded (label, pos, c) projection — the
      // array-valued centroid itself is hash-opaque to the driver's
      // pandas oracle replay; CentroidSpec covers the array form.
      Tables.embeddings(s, d)
        .groupBy(col("label").cast("long").as("label"))
        .agg(graft.functions.CentroidAggregator.asColumn(col("embedding")).as("raw"))
        .select(col("label"), posexplode(col("raw")).as(Seq("pos0", "c")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("c"), 4).as("c"))
        .orderBy("label", "pos")),

    "embed_norms" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          round(norm(col("embedding")), 4).as("l2"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"), round(avg("l2"), 4).as("avg_l2"),
          round(min("l2"), 4).as("min_l2"), round(max("l2"), 4).as("max_l2"))
        .orderBy("label")),

    "dedup_embedding" -> ((s, d) => {
      // Embedding-cosine near-dup with label blocking: compare only
      // within a label cell — the generic scale pattern (block on a
      // cheap partitioner: cluster id, LSH bucket, metadata; then
      // brute-force inside cells). One shuffle on the block key;
      // Σ|cell|² candidate pairs instead of |V|²/2.
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("label"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, Seq("label")).filter(col("a_id") < col("b_id"))
        .withColumn("cos", round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4))
        .filter(col("cos") >= 0.4)
        .select(col("label").cast("long").as("label"),
          col("a_id"), col("b_id"), col("cos"))
        .orderBy("a_id", "b_id")
    }),

    // IVF ANN: coarse-quantize every vector to its nearest of C=16
    // TRAINED centroids (r4 — deterministic lowest-id init + two
    // integer-exact Lloyd iterations via the shared kmAssign/kmUpdate
    // machinery; real IVF trains its coarse quantizer, and trained
    // cells track the data's actual clusters instead of whichever
    // vectors sorted first), then probe each query's 4 nearest cells
    // (r5 — see ivfProbe; the sim_recall_ivf sweep measured recall@5
    // 0.82/0.84/0.92 at nprobe 1/2/4 on sf0.01, so 4 of 16 cells is
    // the first depth clearing the 0.9 bar). Every assignment pass is
    // a broadcast cross-score + partial-aggregated argmin — map-side
    // combine collapses the |V|·C scores to |V| rows before the
    // shuffle, no window sort over the score matrix; the trained
    // quantizer is the session memo's cut (ivfTrain).
    "sim_knn_ivf" -> ((s, d) => ivfBody(s, d, 4)),

    "embed_bucket_stats" -> ((s, d) =>
      // ANN health diagnostic: LSH bucket-occupancy histogram. A
      // healthy hyperplane partition spreads vectors across buckets;
      // mass collecting in few buckets predicts degenerate candidate
      // volumes before a single pair is enumerated. Two tiny
      // partial-aggregated passes (map-only bucket computation).
      Tables.embeddings(s, d)
        .select(lshBucket(col("embedding")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        .groupBy("n_vecs").agg(count(lit(1)).as("n_buckets"))
        .orderBy("n_vecs")),

    "sim_knn_mips" -> ((s, d) => {
      // Maximum-inner-product kNN — recommendation scoring where
      // vector magnitude matters (cosine's normalization erases it;
      // MIPS is its own ANN problem precisely because the triangle
      // inequality breaks). Top-3 by raw inner product over ⌊v·1e6⌋
      // integer coords: every score is an EXACT integer sum (≤64
      // products of |vi| ≤ 2e6 — no overflow, no rounding anywhere),
      // so ranks are engine-identical without a single float op. The
      // 10-query side broadcasts (|Q|·dim rows); scoring is a map-side
      // join + partial agg collapsing |V|·dim·|Q| terms to |V|·|Q|
      // before the shuffle.
      val e = pqElems(s, d).select("vec_id", "pos", "vi")
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("pos").as("qpos"),
          col("vi").as("qi"))
      val scored = e.join(broadcast(q), col("pos") === col("qpos"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(sum(col("vi") * col("qi")).as("ip"))
      val w = Window.partitionBy("q_id").orderBy(col("ip").desc, col("vec_id"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id").as("n_id"), col("ip"))
        .orderBy("q_id", "rk")
    }),

    "embed_outlier_vecs" -> ((s, d) => {
      // Label-conditional outlier screen: vectors whose cosine to
      // their OWN label centroid falls below 0.75 — mislabel/noise
      // candidates, the vector-side twin of text_quality_filter.
      // Centroids are integer floor-mean arrays per label
      // (|labels|·dim rows, always broadcast — the kmUpdate shape at
      // the label grain); scoring is a map-side broadcast join + the
      // native dot/norm, so nothing but the outlier rows ever
      // shuffles. The < 0.75 compare runs on the ROUNDED cosine, so
      // the cut is engine-exact.
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        col("label").cast("long").as("label"),
        col("embedding"), norm(col("embedding")).as("nrm"))
      val cents = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
        .groupBy(col("label"), col("pos0"))
        .agg((sum(floor(col("vf").cast("double") * 1000000.0).cast("long")).cast("double")
          / (lit(1000000.0) * count(lit(1)))).as("c"))
        .groupBy("label")
        .agg(transform(sort_array(collect_list(struct(col("pos0"), col("c")))),
          _.getField("c")).as("c_emb"))
      val cwn = cents.withColumn("cnrm", norm(col("c_emb")))
      e.join(broadcast(cwn), "label")
        .withColumn("cos", round(
          dot(col("embedding"), col("c_emb")) / (col("nrm") * col("cnrm")), 4))
        .filter(col("cos") < 0.75)
        .select(col("vec_id"), col("label"), col("cos"))
        .orderBy("vec_id")
    }),

    "embed_ivf_stats" -> ((s, d) => {
      // IVF index health — the cell-occupancy twin of
      // embed_bucket_stats (LSH) and embed_pq_distortion (PQ): per
      // trained coarse cell, member count plus mean/worst L2
      // quantization distortion vs an exact INTEGER cell centroid.
      // Unbalanced cells predict degenerate probe costs; a high worst
      // distortion flags a cell its centroid no longer represents
      // ("retrain" signal). Every reported number is an exact integer
      // sum (⌊v·1e6⌋ coords, floor-mean integer centroids, integer
      // squared distances — the embed_pq discipline) with one terminal
      // divide: averaging ROUNDED cosines instead measurably diverged
      // at sf0.001 (one rounded cos per ~200 straddles a half
      // boundary, and a cross-engine ulp flips it), so no float ever
      // enters a sum here. Cell assignment reuses the rounded-cos
      // argmin, where ulp noise only matters if the top-2 margin is
      // also < 1e-4 — the compound coincidence the k-means family has
      // always accepted. The trained quantizer is the session memo's
      // (ivfTrain); ei feeds both the centroid rollup and the
      // distortion join, so it is cut.
      val (_, assign) = ivfTrain(s, d)
      val a3 = assign.select("vec_id", "cell")
      val ei = GraftBridge.checkpoint(
        pqElems(s, d).select("vec_id", "pos", "vi").join(a3, "vec_id"))
      val ic = ei.groupBy("cell", "pos")
        .agg(sum("vi").as("sv"), count(lit(1)).as("cnt"))
        .select(col("cell").as("icell"), col("pos").as("cpos"),
          expr("(sv - ((sv % cnt) + cnt) % cnt) div cnt").as("ci"))
      ei.join(broadcast(ic), col("pos") === col("cpos") &&
          col("cell") === col("icell"))
        .groupBy("vec_id", "cell")
        .agg(sum((col("vi") - col("ci")) * (col("vi") - col("ci"))).as("dist"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum("dist").cast("double") / count(lit(1)) / 1e12, 4)
            .as("avg_dist"),
          max("dist").as("max_dist_sq"))
        .orderBy("cell")
    }),

    "embed_dim_moments" -> ((s, d) => {
      // Per-dimension location/scale of the embedding distribution —
      // the whitening/normalization stats every embedding pipeline
      // computes before standardizing, PCA, or scalar quantization
      // (a drifted per-dim mean is also the cheap embedding-version
      // skew alarm). Exact integer first/second moments over
      // ⌊v·1e6⌋ coords (second moment in DECIMAL so a 100 TB corpus
      // cannot wrap a long — the sim_centroid_separation discipline);
      // ONE partial-agged pass, doubles only in the terminal mean/std
      // formula, variance clamped at 0 before sqrt (float error on a
      // constant dimension must not produce NaN).
      val u = Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("pos0", "vf")))
        .select((col("pos0") + 1).cast("long").as("pos"),
          floor(col("vf").cast("double") * 1e6).cast("long").as("vi"))
      u.groupBy("pos")
        .agg(count(lit(1)).as("n"), sum("vi").as("sv"),
          sum(col("vi").cast("decimal(18,0)") * col("vi").cast("decimal(18,0)"))
            .as("ssq"))
        .select(col("pos"), col("n"),
          round(col("sv").cast("double") / col("n") / 1e6, 4).as("mean"),
          round(sqrt(greatest(lit(0.0),
            col("ssq").cast("double") / col("n")
              - pow(col("sv").cast("double") / col("n"), 2))) / 1e6, 4).as("std"))
        .orderBy("pos")
    }),

    "embed_top_pc" -> ((s, d) => {
      // Dominant principal direction of the embedding cloud (r7):
      // distributed Gram matrix + power iteration — the one-pass
      // linear-algebra kernel behind PCA whitening, spectral drift
      // alarms, and anisotropy diagnostics. Two-phase plan: (1) the
      // d²-fanout Gram accumulation M[i,j] = Σ qᵢ·qⱼ over ⌊v·1e3⌋
      // integer coords — a self-join on vec_id whose partial
      // aggregation shrinks the shuffle to d² rows (at 100 TB the map
      // side streams |vecs|·d² products but the exchange is 4096
      // rows; coords quantized at 1e3 so Σq² stays < 2⁵³ at ANY
      // corpus size — exact in long AND in the double cast); (2) a
      // 3-step power iteration from the all-ones vector, run entirely
      // IN-ROW on the single d²-array row with fixed-order HOF folds —
      // every add happens in index order on BOTH engines, so the
      // doubles are bit-identical (a groupBy mat-vec would sum in
      // partition order and hash-diverge). Emits the unit loading per
      // dimension, the Rayleigh eigenvalue (in v² units), and its
      // explained share of the total second moment tr(M).
      val D = PcD
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "vf")))
        .select(col("vec_id"), col("j"),
          floor(col("vf").cast("double") * 1e3).cast("long").as("q"))
      val m = u.as("a").join(u.as("b"), "vec_id")
        .groupBy(col("a.j").as("i"), col("b.j").as("jj"))
        .agg(sum(col("a.q") * col("b.q")).as("m"))
      val mrow = m
        .select(struct((col("i") * D + col("jj")).as("k"), col("m")).as("e"))
        .agg(sort_array(collect_list(col("e"))).as("es"))
        .select(transform(col("es"), x => x.getField("m").cast("double")).as("mf"))
      def matvec(mf: Column, x: Column): Column = pcMatvec(mf, x)
      def normalize(y: Column): Column = pcNormalize(y)
      // Per-iteration lineage cuts (the OpModule cut discipline):
      // each power step's expression references its input vector 64²
      // times, so an uncut chain hands the optimizer a tree that
      // multiplies ~d² per iteration — the same compounding-plan
      // hazard the unrolled graph kernels hit, here at the expression
      // (not plan-node) grain. The cut frame is ONE row; materializing
      // it costs microseconds and keeps every step's tree flat.
      val i1 = GraftBridge.checkpoint(mrow
        .withColumn("x1", normalize(matvec(col("mf"), array_repeat(lit(1.0), D)))))
      val i2 = GraftBridge.checkpoint(i1.withColumn("x2", normalize(matvec(col("mf"), col("x1")))))
      val i3 = GraftBridge.checkpoint(i2.withColumn("x3", normalize(matvec(col("mf"), col("x2")))))
      val it = i3
        .withColumn("y3", matvec(col("mf"), col("x3")))
        .withColumn("lam",
          aggregate(zip_with(col("x3"), col("y3"), (a, b) => a * b),
            lit(0.0), (a, v) => a + v))
        .withColumn("tr",
          aggregate(sequence(lit(0), lit(D - 1)), lit(0.0),
            (acc, i) => acc + element_at(col("mf"), i * D + i + 1)))
      it.select(col("lam"), col("tr"),
          posexplode(col("x3")).as(Seq("pos0", "l")))
        .select((col("pos0") + 1).cast("long").as("pos"),
          round(col("l"), 4).as("loading"),
          round(col("lam") / 1e6, 4).as("lam"),
          round(col("lam") / col("tr"), 4).as("explained"))
        .orderBy("pos")
    }),

    // Body factored out for PlansSpec plan locks.
    "embed_abtt" -> ((s, d) => abttBody(s, d)),

    "embed_quantize" -> ((s, d) => {
      // Int8 scalar quantization (the storage/ANN compression staple):
      // per-dimension [min, max] over the corpus — exact values, no
      // sums, so the params are engine-identical — then
      // q = round((v − lo)·255/(hi − lo)) per element. Params are
      // C·dim rows broadcast back; the quantize pass is map-only.
      val u = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "vf")))
        .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("vf").cast("double").as("v"))
      val params = u.groupBy("pos").agg(min("v").as("lo"), max("v").as("hi"))
      u.filter(col("vec_id") < 20)
        .join(broadcast(params), "pos")
        .select(col("vec_id"), col("pos"),
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(round((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo")))
              .cast("long")).as("q"))
        .orderBy("vec_id", "pos")
    }),

    "embed_pq" -> ((s, d) => {
      // Product quantization — the ANN compression step beyond scalar
      // quantization: the 64-dim space splits into M=8 subspaces of 8
      // dims; each sub-vector is coded as its nearest of K=16 codewords
      // from the TRAINED per-subspace codebook (deterministic init +
      // 2 integer-exact Lloyd iterations — see pqCodebook; r3 used the
      // raw init codebook, r4 trains it, which is what real PQ does
      // and what cuts quantization distortion). Distances sum
      // FLOOR(v·1e6) integer squares, so every argmin is
      // order-independent and engine-exact; no window ever touches the
      // distance matrix.
      // r16: the trained
      // per-(vector, subspace, code) distance table is the SAME frame
      // the ADC searches ride (pqDistsShared) — the argmin here is one
      // extra aggregation over the shared cut instead of a private
      // re-train of the identical codebook (bit-identical by
      // construction; embed_pq_distortion composes this entry).
      pqArgmin(pqDistsShared(s, d))
        .select(col("vec_id"), col("m").as("subspace"),
          col("k").as("code"), col("dist_sq"))
        .orderBy("vec_id", "subspace")
    }),

    "sim_knn_pq" -> ((s, d) => knnPqBody(s, d)),

    "sim_knn_ivfpq" -> ((s, d) => ivfpqBody(s, d)),


    "sim_recall_pq" -> ((s, d) => {
      // PQ quality gate: per-query recall@3 of the ADC search against
      // the EXACT integer-L2 truth set — the compression-loss eval
      // that decides M/K before a codebook ships. Truth side is a
      // gated brute force (|Q|·|V| element join, broadcast query
      // sub-vectors, partial-agged); ADC side is the graded sim_knn_pq
      // body. The truth leg reads the element table twice, sharing
      // pqElems' vec_id exchange; the ADC leg reads the memoized
      // distance table (r8 perf advice: the previous shape
      // scanned/exploded the corpus independently for truth, Lloyd
      // training, and the final code joins — this round's chronic
      // slowest query). Same rank-tiebreak discipline on both sides.
      val Q = 10
      val u = pqElems(s, d)
      val qs = u.filter(col("vec_id") < Q)
        .select(col("vec_id").as("q_id"), col("pos").as("qpos"),
          col("vi").as("qvi"))
      val exact = u.join(broadcast(qs), col("pos") === col("qpos"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(sum((col("vi") - col("qvi")) * (col("vi") - col("qvi"))).as("dist"))
      val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
      val truth = exact.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val adc = knnPqFrom(pqDistsShared(s, d))
        .select(col("q_id").as("a_q"), col("n_id").as("a_n"), lit(1).as("hit"))
      truth
        .join(adc, col("q_id") === col("a_q") && col("n_id") === col("a_n"),
          "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
        .select(col("q_id"), col("n_truth"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_truth"), 4).as("recall"))
        .coalesce(1) // Q rows: the terminal sort needs no range exchange
        .orderBy("q_id")
    }),

    "sim_centroid_separation" -> ((s, d) => {
      // Cluster-separation eval: pairwise cosine between label
      // centroids — high values flag label pairs an ANN index (or a
      // classifier) will confuse. The cosine is computed on
      // integer-scaled coordinate SUMS: the per-label vector count
      // cancels in the cosine ratio, so every aggregate is an exact
      // integer and the doubles appear only in the final formula.
      // The second-moment sums (sv·sv products) are lifted to
      // DECIMAL(37,0): long·long would wrap silently past ~9.2e18
      // while DuckDB promotes to HUGEINT — decimal keeps both engines
      // exact to 1e38, enough for any corpus whose per-(label,pos)
      // coordinate sum stays under 1e18. Two partial aggs + a pos
      // equi-join over label pairs.
      val u = Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "vf")))
        .select(col("label"), col("pos"),
          floor(col("vf").cast("double") * 1e6).cast("long").as("vi"))
      val c = u.groupBy("label", "pos").agg(sum("vi").as("sv"))
      val a = c.select(col("label").as("la"), col("pos"), col("sv").as("sva"))
      val b = c.select(col("label").as("lb"), col("pos").as("pos2"),
        col("sv").as("svb"))
      val svaD = col("sva").cast("decimal(18,0)")
      val svbD = col("svb").cast("decimal(18,0)")
      a.join(b, col("pos") === col("pos2") && col("la") < col("lb"))
        .groupBy("la", "lb")
        .agg(sum(svaD * svbD).as("dot"),
          sum(svaD * svaD).as("saa"),
          sum(svbD * svbD).as("sbb"))
        .select(col("la"), col("lb"),
          round(col("dot").cast("double")
            / (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))), 4)
            .as("cos"))
        .orderBy("la", "lb")
    }),

    "embed_pq_distortion" -> ((s, d) =>
      // PQ codebook health: per-(subspace, code) usage counts and
      // average/max distortion, rolled up from embed_pq's assignment.
      // Unused or overloaded codes and high residual distortion are
      // the "retrain the codebook" signals. One extra M·K-sized agg;
      // integer distance sums keep avg_dist engine-exact (the 1e12
      // divisor restores float² units from the 1e6-scaled integers).
      queries("embed_pq")(s, d)
        .groupBy("subspace", "code")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum("dist_sq").cast("double") / count(lit(1)) / 1e12, 4)
            .as("avg_dist"),
          max("dist_sq").as("max_dist_sq"))
        .orderBy("subspace", "code")),

    "embed_kmeans" -> ((s, d) => {
      // Real k-means (Lloyd), 2 fixed iterations, deterministic init
      // (the C lowest-id vectors), cosine assignment with the same
      // rounded-argmax-tiebreak discipline as sim_knn_ivf. Centroid
      // updates sum FLOOR(v·1e6) as integers — order-independent, so
      // the recomputed centroids are bit-identical across engines and
      // partition layouts (a raw double mean is summation-order
      // dependent and would diverge between iterations).
      //
      // The two iterations unroll into one logical plan; at 100 TB each
      // iteration would persist/checkpoint its assignment (and the
      // centroid side — C·dim rows — always broadcasts). Scoring joins
      // the posexploded vectors to the centroid table on pos and
      // partial-aggregates the per-(vec, cell) dot products: shuffle
      // volume is |V|·C rows, never a window over the score matrix.
      // Centroids, assignment, and update are the shared
      // kmInit/kmAssign/kmUpdate machinery (see the k-means section at
      // the top of this object) — sim_knn_ivf trains its coarse
      // quantizer with the same passes. r16: the trained C=8 chain is
      // session-memoized (km8Shared) — embed_silhouette scores the
      // same centroids, so the 2-round training runs once per session.
      val (cents, assign) = km8Shared(s, d)
      val members = assign.groupBy("cell").agg(count(lit(1)).as("n"))
      // c is emitted UNROUNDED: s/(1e6·n) over integer s,n is one IEEE
      // division — bit-identical in both engines, while round() at a
      // .5 boundary is not (HALF_UP vs scaled-multiply tie-breaking).
      cents.join(broadcast(members), "cell")
        .select(col("cell"), col("n"),
          posexplode(col("c_emb")).as(Seq("pos0", "c")))
        .select(col("cell"), col("n"), (col("pos0") + 1).cast("long").as("pos"),
          col("c"))
        .orderBy("cell", "pos")
    }),

    // Body factored out for PlansSpec plan locks.
    "embed_rq" -> ((s, d) => rqBody(s, d)),

    "embed_silhouette" -> ((s, d) => silhouetteBody(s, d)),

    // Binary-column plumbing for multimodal pipelines: text → bytes →
    // typed metadata. Real image/audio decode is stubbed (libs absent);
    // see graft.multimodal for the mapPartitions decode framework.
    "multimodal_binary_meta" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        octet_length(encode(col("text"), "utf-8")).cast("long").as("byte_len"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("head_byte"))
        .orderBy("doc_id")),

    "multimodal_batch_plan" -> ((s, d) => {
      // Decode-batch planner: blobs stream into fixed BYTE-budget
      // batches (4 KB) in id order WITHIN EACH LANG partition — the
      // batch manifest a mapPartitions/mapInPandas decode stage (see
      // graft.multimodal) consumes so each worker call touches a
      // bounded byte volume regardless of blob-size skew. Same
      // exclusive-prefix-sum packing as text_shard_pack, at the
      // opaque-binary grain; per-batch max_bytes surfaces blobs that
      // need a solo batch. Per-partition windows, never one global
      // packing order.
      val Budget = 4096L
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          octet_length(encode(col("text"), "utf-8")).cast("long").as("nb"))
        .withColumn("cum", sum("nb").over(w))
        .withColumn("batch_id", expr(s"(cum - nb) div $Budget"))
        .groupBy("lang", "batch_id")
        .agg(count(lit(1)).as("n_items"), sum("nb").as("n_bytes"),
          max("nb").as("max_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("lang", "batch_id")
    }),

    "sample_balanced_class" -> ((s, d) => {
      // Class-balanced downsample of the labeled embedding set: every
      // label keeps exactly m = min class size rows — the rebalancing
      // cut a classifier-training pipeline takes before fitting on a
      // skewed label mix. Rows rank inside their class by the same
      // 31-bit Knuth scramble the sampling family uses (deterministic,
      // engine-portable, partition-independent); m broadcasts as one
      // row. At this shape the rank is a label-partitioned window —
      // ~10 classes would skew a 100 TB shuffle, so the scale path is
      // the two-phase top-k (per-partition pre-rank, re-rank the
      // survivors: cf. win_topk_per_group) with m from a first cheap
      // count pass. Output is the per-class audit (counts + id
      // checksums), all exact integers.
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val m = e.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min("n").as("m"))
      val key = ((col("vec_id") % lit(2147483648L)) * lit(2654435761L)) %
        lit(1000003L)
      val w = Window.partitionBy("label").orderBy(key.asc, col("vec_id").asc)
      e.withColumn("rnk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(m))
        .filter(col("rnk") <= col("m"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"),
          min("vec_id").as("id_min"), max("vec_id").as("id_max"))
        .orderBy("label")
    }),

    "embed_centroid_drift" -> ((s, d) => {
      // Per-label centroid drift between two corpus snapshots (the
      // even/odd vec_id halves stand in for "last ingest vs this
      // ingest"): ‖centroid_A − centroid_B‖₂ per label — the
      // embedding-drift monitor that tells a training pipeline its
      // feature space moved before a model does. Per-dim sums ride
      // the exact ⌊v·1e6⌋ integer grid; the squared per-dim gap
      // (Sa·nb − Sb·na)² lifts through DECIMAL(38) BEFORE squaring
      // (long² overflows at ~3e9 — the agg_moments lesson), its
      // 64-dim total is an exact decimal sum (order-free), and ONE
      // sqrt/divide at the end makes the drift engine-identical.
      // Everything after the (label, half, pos) partial agg is
      // dimension-sized (10·2·64 rows).
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), (col("vec_id") % 2).as("half"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("label"), col("half"), col("pos"),
          floor(col("v").cast("double") * 1e6).cast("long").as("iv"))
      val sums = base.groupBy("label", "half", "pos")
        .agg(sum("iv").as("s"))
      val cnts = Tables.embeddings(s, d)
        .groupBy(col("label"), (col("vec_id") % 2).as("half"))
        .agg(count(lit(1)).as("n"))
      val a = sums.filter(col("half") === 0)
        .select(col("label"), col("pos"), col("s").as("sa"))
      val b = sums.filter(col("half") === 1)
        .select(col("label").as("lbl_b"), col("pos").as("pos_b"),
          col("s").as("sb"))
      val na = cnts.filter(col("half") === 0)
        .select(col("label"), col("n").as("n_a"))
      val nb = cnts.filter(col("half") === 1)
        .select(col("label").as("lbl_n"), col("n").as("n_b"))
      val diff = a.join(b, col("label") === col("lbl_b") &&
          col("pos") === col("pos_b"))
        .join(broadcast(na), Seq("label"))
        .join(broadcast(nb), col("label") === col("lbl_n"))
        .withColumn("dd", (col("sa") * col("n_b") - col("sb") * col("n_a"))
          .cast("decimal(38,0)"))
      diff.groupBy("label")
        .agg(any_value(col("n_a")).as("n_a"), any_value(col("n_b")).as("n_b"),
          sum(col("dd") * col("dd")).as("tot"))
        .select(col("label"), col("n_a"), col("n_b"),
          when(col("n_a") === 0 || col("n_b") === 0,
            lit(null).cast("double"))
            .otherwise(round(sqrt(col("tot").cast("double"))
              / (col("n_a") * col("n_b")).cast("double") / 1e6, 4))
            .as("drift"))
        .orderBy("label")
    }),

    "sim_label_homophily" -> ((s, d) => {
      // Label homophily among near-duplicate candidates: for each
      // label, what fraction of its LSH-bucket-local pairs at rounded
      // cosine ≥ 0.3 stay within the label — the label-noise audit a
      // curated training set runs (homophily ≈ 1 means the embedding
      // space respects the labels; ≈ class prior means the labels are
      // noise). Same scale shape as sim_range_search: candidates are
      // bucket-co-residents only (one equi-join on the 8-bit
      // signature — never all-pairs), cosines on the exact ⌊v·1e6⌋
      // integer grid so the ≥ τ gate is bit-identical across engines,
      // labels join from the dimension-sized id→label map, and the
      // rollup is |labels|-sized with exact-integer counts; the share
      // is one division from those integers.
      val ie = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6).cast("double")).as("iv"),
          lshBucket(col("embedding")).as("bucket"))
        .select(col("vec_id"), col("label"), col("iv"), col("bucket"),
          sqrt(dot(col("iv"), col("iv"))).as("nrm"))
      val a = ie.select(col("bucket"), col("vec_id").as("a_id"),
        col("label").as("a_label"), col("iv").as("a_iv"),
        col("nrm").as("a_nrm"))
      val b = ie.select(col("bucket"), col("vec_id").as("b_id"),
        col("label").as("b_label"), col("iv").as("b_iv"),
        col("nrm").as("b_nrm"))
      val pairs = a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
        .filter(round(
          dot(col("a_iv"), col("b_iv")) / (col("a_nrm") * col("b_nrm")), 4)
          >= 0.3)
        .select(col("a_label"), col("b_label"))
      pairs
        .select(col("a_label").as("label"), col("b_label").as("other"))
        .union(pairs.select(col("b_label").as("label"),
          col("a_label").as("other")))
        .groupBy("label")
        .agg(count(lit(1)).as("n_pairs"),
          count(when(col("label") === col("other"), 1)).as("n_same"))
        .select(col("label"), col("n_pairs"), col("n_same"),
          round(col("n_same").cast("double")
            / col("n_pairs").cast("double"), 4).as("homophily"))
        .orderBy("label")
    }),

    "sim_knn_graph_stats" -> ((s, d) => {
      // Mutual-kNN-graph census (r10): the symmetrization step every
      // graph-based clustering / dedup pipeline runs after ANN
      // retrieval (mutual-kNN edges are the standard noise filter
      // before community detection). Directed edges = per-vector
      // top-3 by rounded cosine among LSH-bucket co-residents (the
      // sim_knn_lsh candidate discipline — Σ|bucket|² candidate
      // pairs, never all-pairs); an edge is MUTUAL iff its reverse
      // was also retrieved. Ranks ride the ROUNDED cosine with ties
      // to the lower neighbor id so both engines rank identically;
      // the per-label ledger (edges / mutual / reciprocity) is what
      // a pipeline reads to size its symmetrization loss.
      // Reciprocity is an exact scaled integer (×10⁴ div) — a double
      // ratio would tie at .00005. The rank window partitions by
      // a_id, so top-3 selection parallelizes per vector; at 100 TB
      // the bucket join and the self-join on directed edges (≤ 3|V|
      // rows) are the only shuffles.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"),
          lshBucket(col("embedding")).as("bucket"))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("label").as("a_label"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm"))
      val b = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
      val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
      val edges = a.join(b, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
        .withColumn("cos", round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("a_id"), col("a_label"), col("b_id"))
      val rev = edges.select(col("a_id").as("r_b"), col("b_id").as("r_a"))
      edges.join(rev,
          col("a_id") === col("r_a") && col("b_id") === col("r_b"), "left")
        .groupBy(col("a_label").as("label"))
        .agg(count(lit(1)).as("n_edges"), count(col("r_a")).as("n_mutual"))
        .withColumn("recip_e4", expr("n_mutual * 10000 div n_edges"))
        .orderBy("label")
    }),

    "sim_hard_negatives" -> ((s, d) => {
      // Hard-negative mining (r10) — the contrastive-training staple
      // (DPR/SimCSE shape): for every vector, the top-3 most similar
      // neighbors with a DIFFERENT label. Those are the negatives a
      // contrastive loss learns the most from (random negatives are
      // trivially separable; the hard ones sit just across the class
      // boundary). Candidates are LSH-bucket co-residents only (the
      // sim_knn_lsh discipline — Σ|bucket|² candidate pairs, never
      // all-pairs); the label filter applies BEFORE the rank so the
      // top-3 are the hardest negatives retrieved, and the rank
      // window partitions by a_id so mining parallelizes per vector.
      // Rounded cosines with ties to the lower neighbor id keep both
      // engines ranking identically. At 100 TB: one bucket equi-join
      // + a per-vector top-k — the mutual-kNN census's exact cost.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"),
          lshBucket(col("embedding")).as("bucket"))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("label").as("a_label"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm"))
      val b = e.select(col("bucket"), col("vec_id").as("n_id"),
        col("label").as("n_label"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm"))
      val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("n_id"))
      a.join(b, Seq("bucket")).filter(col("a_label") =!= col("n_label"))
        .withColumn("cos", round(
          dot(col("a_emb"), col("n_emb")) / (col("a_nrm") * col("n_nrm")), 4))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("a_id", "a_label", "n_id", "n_label", "cos", "rk")
        .orderBy("a_id", "rk")
    }),

    "embed_knn_label_acc" -> ((s, d) => {
      // Leave-one-out kNN label accuracy (r10): the standard cheap
      // probe of whether an embedding space respects its labels —
      // predict each vector's label by STRICT majority of its top-3
      // bucket-local neighbors (ties and minorities count as wrong:
      // an eval gate should under-claim), score per label. Reads
      // beside sim_label_homophily (pair-grain) as the vector-grain
      // classifier view, and its per-label accuracy is what flags a
      // label whose region the embedding collapsed. Candidates,
      // ranks, and tie-breaks are exactly the mutual-kNN census's
      // (bucket equi-join, rounded cos, ties → lower id); the
      // correctness decision is pure integers (2·same > count). At
      // 100 TB: one bucket equi-join + per-vector top-k + a |labels|
      // rollup.
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          norm(col("embedding")).as("nrm"),
          lshBucket(col("embedding")).as("bucket"))
      val a = e.select(col("bucket"), col("vec_id").as("a_id"),
        col("label").as("a_label"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm"))
      val b = e.select(col("bucket"), col("vec_id").as("b_id"),
        col("label").as("b_label"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm"))
      val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id"))
      val edges = a.join(b, Seq("bucket")).filter(col("a_id") =!= col("b_id"))
        .withColumn("cos", round(
          dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")), 4))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("a_id"), col("a_label"), col("b_label"))
      edges.groupBy("a_id", "a_label")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("b_label") === col("a_label"), 1L).otherwise(0L))
            .as("same"))
        .withColumn("correct",
          when(col("same") * 2 > col("cnt"), 1L).otherwise(0L))
        .groupBy(col("a_label").as("label"))
        .agg(count(lit(1)).as("n_eval"), sum("correct").as("n_correct"))
        .withColumn("acc_e4", expr("n_correct * 10000 div n_eval"))
        .orderBy("label")
    }),

    "embed_isotropy" -> ((s, d) => {
      // Embedding-space isotropy audit (r10; the anisotropy measure
      // of Mu & Viswanath 2018 / Ethayarajh 2019, public methods):
      // per label, (a) the mean cosine of members to their label
      // centroid (cohesion — near 1 means the label collapses to a
      // ray) and (b) the resultant-norm ratio ‖Σv‖ / Σ‖v‖ (alignment
      // — 1 iff all members point the same way, → 0 for isotropic
      // spread). The health check run before trusting cosine
      // retrieval: anisotropic spaces inflate all similarities.
      // Exactness: vectors ride the ⌊v·1e6⌋ integer grid; per-dim
      // label sums are exact; dot(v, S) lifts through DECIMAL(38,0)
      // (member·sum products at corpus scale outgrow a long — the
      // embed_centroid_drift lesson); each per-vector cosine floors
      // onto a ×10⁴ integer from ONE fixed-order double expression,
      // and per-vector norms floor to integers, so every SUM is an
      // order-free integer sum — no double accumulates across rows.
      // Scale shape: one posexplode partial agg to the |labels|·64
      // sum frame (broadcasts back), one vec_id rollup, a |labels|
      // ledger — the drift monitor's cost.
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("label"), col("pos"),
          floor(col("v").cast("double") * 1e6).cast("long").as("iv"))
      val ls = base.groupBy("label", "pos").agg(sum("iv").as("sv"))
      val s2 = ls.groupBy("label")
        .agg(sum(col("sv").cast("decimal(38,0)") * col("sv")).as("s2"))
      val dv = base.join(broadcast(ls), Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(sum(col("iv") * col("iv")).as("d2v"),
          sum(col("iv").cast("decimal(38,0)") * col("sv")).as("dvs"))
      val per = dv.join(broadcast(s2), Seq("label"))
        .select(col("label"),
          when(col("d2v") === 0, lit(0L)).otherwise(
            floor(col("dvs").cast("double")
              / (sqrt(col("d2v").cast("double"))
                * sqrt(col("s2").cast("double"))) * 1e4).cast("long"))
            .as("ci"),
          floor(sqrt(col("d2v").cast("double"))).cast("long").as("nv"))
      per.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"), sum("ci").as("sum_cos_c_e4"),
          sum("nv").as("snv"))
        .join(broadcast(s2), Seq("label"))
        .withColumn("sn", floor(sqrt(col("s2").cast("double"))).cast("long"))
        .select(col("label"), col("n_vecs"), col("sum_cos_c_e4"),
          expr("sn * 10000 div snv").as("norm_ratio_e4"))
        .orderBy("label")
    }),

    // Body factored out for PlansSpec plan locks.
    "sim_ivf_routing_depth" -> ((s, d) => routingDepthBody(s, d)),

    "multimodal_ahash_dedup" -> ((s, d) => {
      // Perceptual-hash image dedup (r10; BANDED r15): the
      // average-hash (aHash) near-duplicate screen every multimodal
      // curation pipeline runs before training on crawled images —
      // REAL ImageIO decode (the multimodal_decode_hist contract:
      // same synthesized PNGs, pixel g = (doc·7 + x·3 + y·5) mod 256,
      // dims keyed off doc_id, gated doc_id < 64), batched
      // mapPartitions, and an ALL-INTEGER hash: threshold the first
      // 64 row-major gray pixels against the integer-truncated mean,
      // packed into two 32-bit words (the sim_knn_hamming packing).
      // CANDIDATES ARE BAND-BUCKETED (r15 verdict #4, the
      // dedup_simhash_pairs discipline): the 64-bit hash splits into
      // 4 × 16-bit bands used as LSH keys; near-pairs come from an
      // equi-join on (band_idx, band_value), never the all-pairs
      // self-join — at corpus scale the hash frame (16 B/image)
      // shuffles by band, never pixels, and Σ|band bucket|² replaces
      // |docs|². hd = 0 pairs share all 4 bands (recall 1 by
      // construction); hd ≤ 8 banded recall is PRICED by
      // multimodal_ahash_recall against the gate-bounded exact truth.
      // DuckDB cannot decode PNGs but predicts every hash by pure
      // arithmetic (integer gray channel, integer mean — no float
      // ever crosses the compare).
      val hashes = GraftBridge.checkpoint(ahashHashes(s, d)) // decoded once
      val near = ahashBandedNear(hashes)
      val sym = near.select(col("a_id").as("doc_id"), col("hd"))
        .unionAll(near.select(col("b_id").as("doc_id"), col("hd")))
      val counts = sym.groupBy("doc_id")
        .agg(sum(when(col("hd") === 0, 1L).otherwise(0L)).as("ned"),
          count(lit(1)).as("nn"))
      hashes.join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_lum"), col("h0"), col("h1"),
          coalesce(col("ned"), lit(0L)).as("n_exact_dup"),
          coalesce(col("nn"), lit(0L)).as("n_near"))
        .orderBy("doc_id")
    }),

    "multimodal_ahash_recall" -> ((s, d) => {
      // Banding quality gate (r15): recall of the band-bucketed
      // near-pair census against the EXACT gate-bounded truth (the
      // ≤64² broadcast self-join the r14 census ran — affordable
      // precisely because the decode corpus is gated, which is what
      // makes it the truth set), split by Hamming-distance bucket:
      // hd = 0 must read 10000 (all bands equal by construction),
      // and the 1–4 / 5–8 buckets price the pigeonhole gap (8 errors
      // CAN touch all four 16-bit bands, so banded recall < 1 is
      // expected and must be measured, not assumed — the
      // sim_recall_* discipline). Banded pairs are a SUBSET of exact
      // pairs, so recall = n_banded/n_truth on the exact ×10⁴ grid.
      val hashes = GraftBridge.checkpoint(ahashHashes(s, d)) // decoded once
      val oth = hashes.select(col("doc_id").as("b_id"),
        col("h0").as("b_h0"), col("h1").as("b_h1"))
      val bucket = when(col("hd") === 0, 0L)
        .when(col("hd") <= 4, 1L).otherwise(2L)
      val truth = hashes.join(broadcast(oth), col("doc_id") < col("b_id"))
        .withColumn("hd",
          expr("bit_count(h0 ^ b_h0) + bit_count(h1 ^ b_h1)"))
        .filter(col("hd") <= 8)
        .groupBy(bucket.as("hd_bucket"))
        .agg(count(lit(1)).as("n_truth"))
      val banded = ahashBandedNear(hashes)
        .groupBy(bucket.as("hd_bucket"))
        .agg(count(lit(1)).as("nb"))
      truth.join(banded, Seq("hd_bucket"), "left")
        .select(col("hd_bucket"), col("n_truth"),
          coalesce(col("nb"), lit(0L)).as("n_banded"),
          expr("coalesce(nb, 0) * 10000 div n_truth").as("recall_e4"))
        .orderBy("hd_bucket")
    }),
  )

  /** Gated decode + average-hash frame (doc_id, width, height,
    * mean_lum, h0, h1) — REAL ImageIO decode of the synthesized PNGs,
    * shared by multimodal_ahash_dedup and multimodal_ahash_recall. */
  private[graft] def ahashHashes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{MediaRow, Multimodal}
    val media = Tables.documents(s, d)
      .select(col("doc_id")).filter(col("doc_id") < 64)
      .as[Long].map { id =>
        val wpx = 8 + (id % 5).toInt
        val hpx = 6 + (id % 3).toInt
        val img = new java.awt.image.BufferedImage(
          wpx, hpx, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < hpx) {
          var x = 0
          while (x < wpx) {
            val g = ((id * 7 + x * 3 + y * 5) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRow(id, "image", bos.toByteArray)
      }
    Multimodal.imageAHash(media).toDF()
      .select(col("media_id").as("doc_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("mean_lum"), col("h0"), col("h1"))
  }

  /** Band-bucketed near-pair census over a checkpointed hash frame:
    * 4 × 16-bit bands as LSH keys, MULTI-PROBED at intra-band
    * Hamming ≤ 1 (r16 verdict #3) → distinct candidate pairs → exact
    * popcount filter hd ≤ 8. Returns (a_id, b_id, hd), a_id < b_id.
    *
    * Multi-probe: the probe side emits each band key AND its 16
    * one-bit-flip neighbors (17 keys/band — the IVF nprobe idea
    * applied to LSH bands). A pair whose SOME band carries ≤ 1 of
    * its bit errors is then caught, so by pigeonhole every hd ≤ 7
    * pair is guaranteed (7 errors over 4 bands leave a ≤ 1-error
    * band) and hd = 8 misses only the exact (2,2,2,2) split — vs the
    * plain banding's hd ≥ 4 guarantee (r15 measured 0.571/0.444 by
    * bucket). XOR symmetry makes ONE-sided probing sufficient: a's
    * probe set contains b's key iff the band keys differ ≤ 1 bit.
    * Cost at scale: the probe side fans a 16 B hash row ×17 per
    * band — still hash rows only, pixels never shuffle, and
    * Σ|bucket|·|probe bucket| replaces |docs|². */
  private[graft] def ahashBandedNear(hashes: DataFrame): DataFrame = {
    def banded(p: String) = hashes.select(
      col("doc_id").as(s"${p}_id"), col("h0").as(s"${p}_h0"),
      col("h1").as(s"${p}_h1"),
      posexplode(array(expr("h0 % 65536"), expr("h0 div 65536"),
        expr("h1 % 65536"), expr("h1 div 65536")))
        .as(Seq(s"${p}_band", s"${p}_val")))
    val probes = banded("a").select(col("a_id"), col("a_h0"), col("a_h1"),
      col("a_band"),
      explode(array(((0 until 16).map(j =>
        col("a_val").bitwiseXOR(lit(1L << j))) :+ col("a_val")): _*))
        .as("a_val"))
    probes.join(banded("b"),
        col("a_band") === col("b_band") && col("a_val") === col("b_val")
          && col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_h0", "a_h1", "b_h0", "b_h1").distinct()
      .withColumn("hd",
        expr("bit_count(a_h0 ^ b_h0) + bit_count(a_h1 ^ b_h1)"))
      .filter(col("hd") <= 8)
      .select("a_id", "b_id", "hd")
  }

  // ---- oracle SQL -------------------------------------------------------

  /** Unnested (id, pos, val-as-double) over a filtered embeddings set. */
  private def unnested(alias: String, pred: String): String =
    s"""SELECT vec_id AS ${alias}_id, unnest(range(1, len(embedding) + 1)) AS pos,
       |  CAST(unnest(embedding) AS DOUBLE) AS v
       |FROM embeddings WHERE $pred""".stripMargin

  /** DCG rank discounts 1/log₂(rk+1) for rk = 1..5 — PINNED double
    * literals rendered into both engines (the evt_decay_score
    * discipline: libm log differs in the last ulp per engine; a
    * literal cannot). */
  private val NdcgW: Seq[Double] = Seq(
    1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163)

  /** Discounted pivot-sum in SQL: g1·w1 + … + g5·w5 left-assoc, the
    * exact association order of the Spark expression. */
  private def dcgSql: String =
    (1 to 5).map(i =>
      s"CAST(sum(CASE WHEN rk = $i THEN g ELSE 0 END) AS DOUBLE) * ${NdcgW(i - 1)}")
      .mkString("\n|      + ")

  /** Shared ANN-eval WITH-body (through `tiers`, `idcg`, and the
    * four-path `retr` union) — the SQL twin of [[tierUniverse]] +
    * [[idealDcg]] + [[annRetrieved]], interpolated by BOTH the
    * sim_ndcg_eval and sim_rrf_fusion oracles so the two gradings
    * share one retrieval chain by construction. */
  private def annEvalChainSql: String =
    s"""uq AS (${unnested("q", "vec_id < 10")}),
       |un AS (${unnested("n", "true")}),
       |norms AS ($NormsSql),
       |bscored AS (
       |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
       |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
       |  JOIN norms nq ON nq.vec_id = uq.q_id
       |  JOIN norms nn ON nn.vec_id = un.n_id
       |  GROUP BY q_id, n_id, nq.nrm, nn.nrm),
       |tiers AS (
       |  SELECT q_id, n_id,
       |    CASE WHEN cos >= 0.3 THEN 3 WHEN cos >= 0.2 THEN 2
       |         WHEN cos >= 0.1 THEN 1 ELSE 0 END AS tier
       |  FROM bscored),
       |ideal AS (
       |  SELECT q_id, rk,
       |    CASE tier WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END AS g
       |  FROM (
       |    SELECT q_id, tier,
       |      row_number() OVER (PARTITION BY q_id ORDER BY tier DESC, n_id) AS rk
       |    FROM tiers) WHERE rk <= 5),
       |idcg AS (
       |  SELECT q_id,
       |    $dcgSql AS idcg_raw
       |  FROM ideal GROUP BY q_id),
       |buckets AS ($BucketsSql),
       |lshr AS (
       |  SELECT q_id, n_id, rk FROM (
       |    SELECT s2.q_id, s2.n_id,
       |      row_number() OVER (PARTITION BY s2.q_id
       |        ORDER BY s2.cos DESC, s2.n_id) AS rk
       |    FROM bscored s2
       |    JOIN buckets bq ON bq.vec_id = s2.q_id
       |    JOIN buckets bn ON bn.vec_id = s2.n_id AND bn.bucket = bq.bucket
       |  ) WHERE rk <= 5),
       |uall AS (
       |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
       |    CAST(unnest(embedding) AS DOUBLE) AS v
       |  FROM embeddings),
       |ic0 AS (SELECT vec_id AS cell, pos, v AS c FROM uall WHERE vec_id < 16),
       |ia1 AS (${kmAssignSql("ic0", u = "uall")}),
       |ic1 AS (${kmUpdateSql("ia1", u = "uall")}),
       |ia2 AS (${kmAssignSql("ic1", u = "uall")}),
       |ic2 AS (${kmUpdateSql("ia2", u = "uall")}),
       |assign AS (${kmAssignSql("ic2", u = "uall")}),
       |qtop4 AS (${kmAssignSql("ic2", topn = 4, u = "uall")}),
       |ivfr AS (
       |  SELECT q_id, n_id, rk FROM (
       |    SELECT p.q_id, p.n_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY s3.cos DESC, p.n_id) AS rk
       |    FROM (SELECT qa.vec_id AS q_id, nb.vec_id AS n_id
       |          FROM qtop4 qa JOIN assign nb ON qa.cell = nb.cell
       |            AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id) p
       |    JOIN bscored s3 ON s3.q_id = p.q_id AND s3.n_id = p.n_id
       |  ) WHERE rk <= 5),
       |$PqCtes,
       |pcodes AS (SELECT vec_id, m, k FROM best WHERE rn = 1),
       |dtab AS (SELECT vec_id AS q_id, m, k, dist FROM dists WHERE vec_id < 10),
       |adc AS (
       |  SELECT dtab.q_id, pcodes.vec_id,
       |    CAST(sum(dtab.dist) AS BIGINT) AS adc_dist
       |  FROM pcodes JOIN dtab ON pcodes.m = dtab.m AND pcodes.k = dtab.k
       |  WHERE pcodes.vec_id <> dtab.q_id
       |  GROUP BY dtab.q_id, pcodes.vec_id),
       |pqr AS (
       |  SELECT q_id, vec_id AS n_id, rnk AS rk FROM (
       |    SELECT q_id, vec_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rnk
       |    FROM adc) WHERE rnk <= 3),
       |hcodes AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN pos <= 32 AND v > 0
       |      THEN (CAST(1 AS BIGINT) << (pos - 1)) ELSE 0 END) AS BIGINT) AS lo,
       |    CAST(sum(CASE WHEN pos > 32 AND v > 0
       |      THEN (CAST(1 AS BIGINT) << (pos - 33)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM uall GROUP BY vec_id),
       |hamr AS (
       |  SELECT q_id, n_id, rk FROM (
       |    SELECT hq.vec_id AS q_id, hn.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY hq.vec_id
       |        ORDER BY bit_count(xor(hq.lo, hn.lo))
       |          + bit_count(xor(hq.hi, hn.hi)), hn.vec_id) AS rk
       |    FROM hcodes hq JOIN hcodes hn
       |      ON hq.vec_id < 10 AND hn.vec_id <> hq.vec_id
       |  ) WHERE rk <= 5),
       |retr AS (
       |  SELECT 'lsh' AS path, q_id, n_id, rk FROM lshr
       |  UNION ALL SELECT 'ivf', q_id, n_id, rk FROM ivfr
       |  UNION ALL SELECT 'pq', q_id, n_id, rk FROM pqr
       |  UNION ALL SELECT 'hamming', q_id, n_id, rk FROM hamr)""".stripMargin

  private val NormsSql =
    """SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
      |) GROUP BY vec_id""".stripMargin

  /** In-row mat-vec fold over a 64²-list column — the SQL twin of
    * [[pcMatvec]] (same index-order adds ⇒ identical doubles). */
  private def pcMvSql(mcol: String, xexpr: String): String =
    s"""list_transform(range(0, 64), i ->
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(0, 64), j2 -> $mcol[i*64+j2+1] * $xexpr)),
       |      (a, b) -> a + b))""".stripMargin

  private def pcNrmSql(y: String): String =
    s"""list_transform($y, e -> e / sqrt(
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $y),
       |      (a, b) -> a + b * b)))""".stripMargin

  /** CTE chain: 3 normalized power steps from all-ones on `mcol` in
    * `src`, emitting CTE `${pfx}n3` with unit vector `xcol` — the SQL
    * twin of [[pcIterate]]. */
  private def pcIterSql(src: String, mcol: String, xcol: String,
                        pfx: String): String =
    s"""${pfx}s1 AS (SELECT *, ${pcMvSql(mcol, "1.0")} AS ${pfx}y1 FROM $src),
       |${pfx}n1 AS (SELECT *, ${pcNrmSql(s"${pfx}y1")} AS ${pfx}x1 FROM ${pfx}s1),
       |${pfx}s2 AS (SELECT *, ${pcMvSql(mcol, s"${pfx}x1[j2+1]")} AS ${pfx}y2 FROM ${pfx}n1),
       |${pfx}n2 AS (SELECT *, ${pcNrmSql(s"${pfx}y2")} AS ${pfx}x2 FROM ${pfx}s2),
       |${pfx}s3 AS (SELECT *, ${pcMvSql(mcol, s"${pfx}x2[j2+1]")} AS ${pfx}y3 FROM ${pfx}n2),
       |${pfx}n3 AS (SELECT *, ${pcNrmSql(s"${pfx}y3")} AS $xcol FROM ${pfx}s3)""".stripMargin

  /** Rayleigh fold Σ x[k]·y[k] in index order ([[pcRayleigh]] twin). */
  private def pcRaySql(xcol: String, ycol: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(0, 64), k2 -> $xcol[k2+1] * $ycol[k2+1])),
       |    (a, b) -> a + b)""".stripMargin

  private val BucketsSql =
    """SELECT vec_id, CAST(sum(CASE WHEN bproj > 0 THEN pw ELSE 0 END) AS BIGINT) AS bucket
      |FROM (
      |  SELECT vec_id, j, CAST(pow(2, j) AS BIGINT) AS pw,
      |    sum(v * (CAST((37 * j + 101 * pos) % 97 AS DOUBLE) / 97.0 - 0.5)) AS bproj
      |  FROM (
      |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
      |      CAST(unnest(embedding) AS DOUBLE) AS v
      |    FROM embeddings
      |  ) CROSS JOIN range(8) t(j)
      |  GROUP BY vec_id, j
      |) GROUP BY vec_id""".stripMargin

  /** Arithmetic aHash chain (no decode — the synthesized pixels are
    * pure integer arithmetic): CTEs `ids/px/m/bits/hs`, with `hs` =
    * (id, w, h, mean_lum, h0, h1). Shared by the two ahash oracles. */
  private val AhashSql =
    """ids AS (
      |  SELECT doc_id AS id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
      |  FROM documents WHERE doc_id < 64
      |), px AS (
      |  SELECT id, w, h, k,
      |    (id * 7 + (k % w) * 3 + (k // w) * 5) % 256 AS g
      |  FROM ids, unnest(range(0, 96)) t(k)
      |  WHERE k < w * h
      |), m AS (
      |  SELECT id, max(w) AS w, max(h) AS h,
      |    CAST(sum(g) // count(*) AS BIGINT) AS mean_lum
      |  FROM px GROUP BY id
      |), bits AS (
      |  SELECT p.id,
      |    CAST(sum(CASE WHEN p.k < 32 AND p.g > m.mean_lum
      |      THEN CAST(1 AS BIGINT) << CAST(p.k AS INTEGER) ELSE 0 END)
      |      AS BIGINT) AS h0,
      |    CAST(sum(CASE WHEN p.k >= 32 AND p.k < 64 AND p.g > m.mean_lum
      |      THEN CAST(1 AS BIGINT) << CAST(p.k - 32 AS INTEGER) ELSE 0 END)
      |      AS BIGINT) AS h1
      |  FROM px p JOIN m USING (id) GROUP BY p.id
      |), hs AS (
      |  SELECT m.id, m.w, m.h, m.mean_lum, b.h0, b.h1
      |  FROM m JOIN bits b ON m.id = b.id
      |)""".stripMargin

  /** Band-bucketed near-pair CTEs over `hs` (the Spark
    * ahashBandedNear twin, multi-probed at intra-band Hamming ≤ 1 —
    * r16): `near` = (a_id, b_id, hd ≤ 8). */
  private val AhashBandedSql =
    """bands AS (
      |  SELECT id, h0, h1, t.band,
      |    CASE t.band WHEN 0 THEN h0 % 65536 WHEN 1 THEN h0 // 65536
      |      WHEN 2 THEN h1 % 65536 ELSE h1 // 65536 END AS val
      |  FROM hs, unnest(range(0, 4)) t(band)
      |), probes AS (
      |  SELECT id, h0, h1, band,
      |    CASE WHEN t.j = 16 THEN val
      |      ELSE xor(val, CAST(1 AS BIGINT) << CAST(t.j AS INTEGER)) END AS val
      |  FROM bands, unnest(range(0, 17)) t(j)
      |), cand AS (
      |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
      |    a.h0 AS a_h0, a.h1 AS a_h1, b.h0 AS b_h0, b.h1 AS b_h1
      |  FROM probes a
      |  JOIN bands b ON a.band = b.band AND a.val = b.val AND a.id < b.id
      |), near AS (
      |  SELECT a_id, b_id, hd FROM (
      |    SELECT a_id, b_id,
      |      bit_count(xor(a_h0, b_h0)) + bit_count(xor(a_h1, b_h1)) AS hd
      |    FROM cand
      |  ) WHERE hd <= 8
      |)""".stripMargin

  // ---- graph-ANN (NSW-lite) oracle chain (r15) ------------------------

  /** Score a (q_id, n_id) pair CTE on the rounded cosine — expects
    * CTEs `uq` (unnested queries), `un` (unnested corpus), `norms`. */
  private def gscoreSql(pairs: String): String =
    s"""SELECT p.q_id, p.n_id,
       |  round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
       |FROM $pairs p
       |JOIN uq ON uq.q_id = p.q_id
       |JOIN un ON un.n_id = p.n_id AND un.pos = uq.pos
       |JOIN norms nq ON nq.vec_id = p.q_id
       |JOIN norms nn ON nn.vec_id = p.n_id
       |GROUP BY p.q_id, p.n_id, nq.nrm, nn.nrm""".stripMargin

  /** One unrolled hop: candidates = out-neighbors of the previous
    * beam, fresh = not yet visited, scored, beam = top-10 fresh,
    * visited += all scored (the Spark twin's exact round shape). */
  private def gHopSql(r: Int): String = {
    val pv = s"gv${r - 1}"
    val pf = s"gf${r - 1}"
    s"""gc$r AS (SELECT DISTINCT $pf.q_id, ed.b_id AS n_id
       |  FROM $pf JOIN gedges ed ON ed.a_id = $pf.n_id),
       |gx$r AS (SELECT gc$r.q_id, gc$r.n_id FROM gc$r
       |  WHERE NOT EXISTS (SELECT 1 FROM $pv
       |    WHERE $pv.q_id = gc$r.q_id AND $pv.n_id = gc$r.n_id)),
       |gs$r AS MATERIALIZED (${gscoreSql(s"gx$r")}),
       |gf$r AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS brk
       |  FROM gs$r) WHERE brk <= 10),
       |gv$r AS MATERIALIZED (
       |  SELECT * FROM $pv UNION ALL SELECT * FROM gs$r)""".stripMargin
  }

  /** One unrolled NN-descent refinement round (the Spark twin's
    * nnRound): co-neighbor ∪ two-hop candidates over `in`, minus
    * existing edges, scored on the same rounded cosine, and the
    * top-5 NEW edges per node UNIONED onto `in` (augment, never
    * re-rank the base — see knnGraphBody). */
  private def gNnSql(in: String, out: String, sfx: Int): String =
    s"""gnn$sfx AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT DISTINCT a_id, b_id FROM (
       |      SELECT x.b_id AS a_id, y.b_id AS b_id
       |      FROM $in x JOIN $in y ON y.a_id = x.a_id
       |      WHERE x.b_id <> y.b_id
       |      UNION ALL
       |      SELECT x.a_id AS a_id, y.b_id AS b_id
       |      FROM $in x JOIN $in y ON y.a_id = x.b_id
       |      WHERE x.a_id <> y.b_id
       |    )
       |  ) c
       |  WHERE NOT EXISTS (SELECT 1 FROM $in d
       |    WHERE d.a_id = c.a_id AND d.b_id = c.b_id)
       |),
       |gnns$sfx AS MATERIALIZED (
       |  SELECT c.a_id, c.b_id,
       |    round(sum(ua.v * ub.v) / (na.nrm * nb.nrm), 4) AS cos
       |  FROM gnn$sfx c
       |  JOIN ua ON ua.a_id = c.a_id
       |  JOIN ub ON ub.b_id = c.b_id AND ub.pos = ua.pos
       |  JOIN norms na ON na.vec_id = c.a_id
       |  JOIN norms nb ON nb.vec_id = c.b_id
       |  GROUP BY c.a_id, c.b_id, na.nrm, nb.nrm
       |),
       |$out AS MATERIALIZED (
       |  SELECT * FROM $in
       |  UNION ALL
       |  SELECT a_id, b_id, cos FROM (
       |    SELECT a_id, b_id, cos,
       |      row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
       |    FROM gnns$sfx
       |  ) WHERE rk <= 5
       |)""".stripMargin

  /** Scale-adaptive two-table hyperplane bucketing — the SQL twin of
    * knnGraphBody's width chain (r17): `wv.w` = the smallest w in
    * [8, 16] with 2^w·16 ≥ count(*), derived by the SAME integer
    * threshold chain as the Spark side (no float log₂ — exact-power
    * counts could ceil differently per engine); table 1 = hyperplanes
    * j = 0..w−1, table 2 = j = w..2w−1 (disjoint sets, independent
    * tables). At every driver-graded SF (|V| ≤ 4096) w = 8, i.e. the
    * r16 tables bit-for-bit. */
  private val GraphBucketsSql: String =
    s"""wv AS (
       |  SELECT 8 ${(8 to 15).map(k =>
              s"+ (CASE WHEN n > ${16L << k} THEN 1 ELSE 0 END)").mkString(" ")}
       |    AS w
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |gproj AS MATERIALIZED (
       |  SELECT vec_id, j,
       |    sum(v * (CAST((37 * j + 101 * pos) % 97 AS DOUBLE) / 97.0 - 0.5))
       |      AS bproj
       |  FROM (
       |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
       |      CAST(unnest(embedding) AS DOUBLE) AS v
       |    FROM embeddings
       |  ) CROSS JOIN range(32) t(j) CROSS JOIN wv
       |  WHERE j < 2 * wv.w
       |  GROUP BY vec_id, j),
       |buckets1 AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN bproj > 0
       |      THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM gproj CROSS JOIN wv WHERE j < wv.w GROUP BY vec_id),
       |buckets2 AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN bproj > 0
       |      THEN CAST(pow(2, j - wv.w) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM gproj CROSS JOIN wv WHERE j >= wv.w GROUP BY vec_id)""".stripMargin

  /** The full unrolled search: two-table candidate build + top-5 edge
    * rank + TWO NN-descent refinement rounds (top-5 new edges
    * augmented per round) + symmetrization + multi-entry seed
    * (shortlist ∪ 32 hubs) + 4 beam-10 hops, ending in CTE `gres`
    * (q_id, n_id, cos, rk) — shared by the sim_knn_graph and
    * sim_recall_graph oracles. */
  private def graphSearchSql: String =
    s"""$GraphBucketsSql,
       |ua AS (${unnested("a", "true")}),
       |ub AS (${unnested("b", "true")}),
       |uq AS (${unnested("q", "vec_id < 10")}),
       |un AS (${unnested("n", "true")}),
       |norms AS ($NormsSql),
       |gcand AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM buckets1 a
       |  JOIN buckets1 b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
       |  UNION
       |  SELECT a.vec_id, b.vec_id
       |  FROM buckets2 a
       |  JOIN buckets2 b ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
       |),
       |gescored AS (
       |  SELECT c.a_id, c.b_id,
       |    round(sum(ua.v * ub.v) / (na.nrm * nb.nrm), 4) AS cos
       |  FROM gcand c
       |  JOIN ua ON ua.a_id = c.a_id
       |  JOIN ub ON ub.b_id = c.b_id AND ub.pos = ua.pos
       |  JOIN norms na ON na.vec_id = c.a_id
       |  JOIN norms nb ON nb.vec_id = c.b_id
       |  GROUP BY c.a_id, c.b_id, na.nrm, nb.nrm
       |),
       |gdir AS MATERIALIZED (
       |  SELECT a_id, b_id, cos FROM (
       |    SELECT a_id, b_id, cos,
       |      row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
       |    FROM gescored
       |  ) WHERE rk <= 5
       |),
       |${gNnSql("gdir", "gdir2", 1)},
       |${gNnSql("gdir2", "gdir3", 2)},
       |gedges AS MATERIALIZED (
       |  SELECT DISTINCT a_id, b_id FROM (
       |    SELECT a_id, b_id FROM gdir3
       |    UNION ALL SELECT b_id AS a_id, a_id AS b_id FROM gdir3)
       |),
       |gseed AS (
       |  SELECT a_id AS q_id, b_id AS n_id, cos FROM gdir3 WHERE a_id < 10),
       |ghub0 AS (SELECT e.vec_id AS q_id, h.n_id
       |  FROM embeddings e CROSS JOIN (
       |    SELECT vec_id AS n_id FROM embeddings
       |    WHERE vec_id >= 10 ORDER BY vec_id LIMIT 32) h
       |  WHERE e.vec_id < 10),
       |ghub AS (${gscoreSql("ghub0")}),
       |gv0 AS MATERIALIZED (
       |  SELECT DISTINCT * FROM (
       |    SELECT * FROM gseed UNION ALL SELECT * FROM ghub)),
       |gf0 AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS brk
       |  FROM gv0) WHERE brk <= 10),
       |${gHopSql(1)},
       |${gHopSql(2)},
       |${gHopSql(3)},
       |${gHopSql(4)},
       |gres AS (
       |  SELECT q_id, n_id, cos, rk FROM (
       |    SELECT q_id, n_id, cos,
       |      CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
       |        AS BIGINT) AS rk
       |    FROM gv4 WHERE n_id <> q_id
       |  ) WHERE rk <= 5
       |)""".stripMargin

  /** One k-means assignment pass in SQL: the `topn` nearest centroids
    * from `cents` by rounded cosine, ties to the lower cell id
    * (mirrors the Spark side's min(struct(-cos, cell)) argmin for
    * topn = 1 and kmAssignTopN's rank window for topn > 1). Expects
    * CTEs `u` (unnested vectors) and `norms`. */
  private def kmAssignSql(cents: String, withCos: Boolean = false,
      topn: Int = 1, u: String = "u"): String =
    s"""SELECT vec_id, cell${if (withCos) ", cos" else ""} FROM (
       |  SELECT sc.vec_id, sc.cell, sc.cos,
       |    row_number() OVER (PARTITION BY sc.vec_id ORDER BY sc.cos DESC, sc.cell) AS rn
       |  FROM (
       |    SELECT $u.vec_id, c.cell,
       |      round(sum($u.v * c.c) / (n.nrm * cn.cnrm), 4) AS cos
       |    FROM $u JOIN $cents c ON $u.pos = c.pos
       |    JOIN norms n ON n.vec_id = $u.vec_id
       |    JOIN (SELECT cell, sqrt(sum(c * c)) AS cnrm FROM $cents GROUP BY cell) cn
       |      ON cn.cell = c.cell
       |    GROUP BY $u.vec_id, c.cell, n.nrm, cn.cnrm
       |  ) sc
       |) WHERE rn <= $topn""".stripMargin

  /** One centroid-update pass in SQL: integer-sum mean of FLOOR(v·1e6)
    * per (cell, pos) — order-independent, engine-identical. */
  private def kmUpdateSql(assign: String, u: String = "u"): String =
    s"""SELECT a.cell, $u.pos,
       |  CAST(sum(CAST(floor($u.v * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / (1000000.0 * count(*)) AS c
       |FROM $assign a JOIN $u ON $u.vec_id = a.vec_id
       |GROUP BY a.cell, $u.pos""".stripMargin

  /** Second-level sub-quantizer CTE chain — the SQL twin of
    * [[subSplit]] (r11): K_c = ⌈|cell ∩ train|/625⌉ sub-cells per
    * coarse cell, init = per residue class (vec_id mod K_c) the
    * lowest-id training member (r12 — mirrors the de-linearized
    * Spark init; vec_id is non-negative so `%` equals Spark's pmod),
    * one local Lloyd round (train-side assign → floor-mean update),
    * then a final assignment of every `assign` row. Expects CTEs `u`
    * (raw doubles), `norms`, and `assign(vec_id, cell)`; emits
    * `${pfx}sub(vec_id, cell, sub)`. Ties → lower sub (the kmAssign
    * row_number convention). */
  private def subSplitSql(assign: String, trainPred: String,
      pfx: String, u: String = "u"): String = {
    def asg(members: String, cents: String, out: String) =
      s"""$out AS (SELECT vec_id, cell, sub FROM (
         |  SELECT sc.vec_id, sc.cell, sc.sub,
         |    row_number() OVER (PARTITION BY sc.vec_id
         |      ORDER BY sc.cos DESC, sc.sub) AS rn
         |  FROM (
         |    SELECT a.vec_id, a.cell, c.sub,
         |      round(sum($u.v * c.c) / (n.nrm * cn.scnrm), 4) AS cos
         |    FROM $members a JOIN $u ON $u.vec_id = a.vec_id
         |    JOIN $cents c ON c.cell = a.cell AND c.pos = $u.pos
         |    JOIN norms n ON n.vec_id = a.vec_id
         |    JOIN (SELECT cell, sub, sqrt(sum(c * c)) AS scnrm
         |          FROM $cents GROUP BY 1, 2) cn
         |      ON cn.cell = c.cell AND cn.sub = c.sub
         |    GROUP BY a.vec_id, a.cell, c.sub, n.nrm, cn.scnrm
         |  ) sc) WHERE rn = 1)""".stripMargin
    s"""${pfx}tr AS (SELECT vec_id, cell FROM $assign WHERE $trainPred),
       |${pfx}kc AS (SELECT cell,
       |  (count(*) + ${SubCellTarget - 1}) // $SubCellTarget AS kc
       |  FROM ${pfx}tr GROUP BY cell),
       |${pfx}seed AS (SELECT m.cell, m.vec_id % k.kc + 1 AS sub,
       |  min(m.vec_id) AS vid
       |  FROM ${pfx}tr m JOIN ${pfx}kc k ON k.cell = m.cell
       |  GROUP BY m.cell, m.vec_id % k.kc + 1),
       |${pfx}s0 AS (SELECT sd.cell, sd.sub, $u.pos, $u.v AS c
       |  FROM ${pfx}seed sd JOIN $u ON $u.vec_id = sd.vid),
       |${asg(s"${pfx}tr", s"${pfx}s0", s"${pfx}a1")},
       |${pfx}s1 AS (SELECT a.cell, a.sub, $u.pos,
       |  CAST(sum(CAST(floor($u.v * 1000000.0) AS BIGINT)) AS DOUBLE)
       |    / (1000000.0 * count(*)) AS c
       |  FROM ${pfx}a1 a JOIN $u ON $u.vec_id = a.vec_id
       |  GROUP BY a.cell, a.sub, $u.pos),
       |${asg(assign, s"${pfx}s1", s"${pfx}sub")}""".stripMargin
  }

  /** One greedy-k-center round in SQL (r10, sample_kcenter): e$t =
    * every vector's integer-grid d² to round t's pick, m$t = frontier
    * update (least of previous frontier and e$t), p${t+1} = next pick
    * (frontier argmax, ties → lowest vec_id). Chained unrolled like
    * the Lloyd/PQ trains. */
  private def kcenterRoundSql(t: Int): String =
    s"""e$t AS (
       |  SELECT x.vec_id, sx.sdot + sc.sdot - 2 * sum(x.w * y.w) AS nd
       |  FROM iu x
       |  CROSS JOIN p$t pp
       |  JOIN iu y ON y.vec_id = pp.vec_id AND y.pos = x.pos
       |  JOIN sdot sx ON sx.vec_id = x.vec_id
       |  JOIN sdot sc ON sc.vec_id = pp.vec_id
       |  GROUP BY x.vec_id, sx.sdot, sc.sdot),
       |m$t AS (SELECT m.vec_id, least(m.nd, e$t.nd) AS nd
       |  FROM m${t - 1} m JOIN e$t ON e$t.vec_id = m.vec_id),
       |p${t + 1} AS (SELECT vec_id, nd FROM m$t ORDER BY nd DESC, vec_id LIMIT 1)""".stripMargin

  /** One PQ distance pass in SQL: per-(vector, subspace, code)
    * integer L2 vs codebook `cb(k, cpos, ci)`. */
  private def pqDistSql(cb: String): String =
    s"""SELECT e.vec_id, e.m, c.k,
       |    CAST(sum((e.vi - c.ci) * (e.vi - c.ci)) AS BIGINT) AS dist
       |  FROM e JOIN $cb c ON e.pos = c.cpos
       |  GROUP BY e.vec_id, e.m, c.k""".stripMargin

  /** Argmin code per (vector, subspace), ties to the lower code id
    * (mirrors the Spark side's min(struct(dist, k))). */
  private def pqArgminSql(dists: String): String =
    s"""SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |    FROM $dists) WHERE rn = 1""".stripMargin

  /** One Lloyd update in SQL: floor-mean of the assigned integer
    * coords — the explicit non-negative mod makes the numerator an
    * exact multiple, so `//` matches Spark's integer `div` for any
    * sign; the BIGINT cast collapses DuckDB's HUGEINT sums. */
  private def pqUpdateSql(assign: String): String =
    s"""SELECT a.k, e.pos AS cpos,
       |    CAST((sum(e.vi) - ((sum(e.vi) % count(*)) + count(*)) % count(*))
       |      // count(*) AS BIGINT) AS ci
       |  FROM e JOIN $assign a ON e.vec_id = a.vec_id AND e.m = a.m
       |  GROUP BY a.k, e.pos""".stripMargin

  /** Shared PQ CTE block ending in `best(vec_id, m, k, dist, rn)` —
    * rn = 1 rows are the per-(vector, subspace) code assignments vs
    * the TRAINED codebook: deterministic init c0 (the K lowest-id
    * vectors' sub-vectors) then two integer-exact Lloyd iterations
    * (mirrors the `pqCodebook` DataFrame pipeline). */
  private val PqCtes =
    s"""u AS (
       |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vi
       |  FROM embeddings
       |), e AS (
       |  SELECT vec_id, pos, (pos - 1) // 8 AS m, vi FROM u
       |), c0 AS (
       |  SELECT vec_id AS k, pos AS cpos, vi AS ci FROM e WHERE vec_id < 16
       |), pd1 AS (${pqDistSql("c0")}),
       |pa1 AS (${pqArgminSql("pd1")}),
       |pc1 AS (${pqUpdateSql("pa1")}),
       |pd2 AS (${pqDistSql("pc1")}),
       |pa2 AS (${pqArgminSql("pd2")}),
       |pc2 AS (${pqUpdateSql("pa2")}),
       |dists AS (${pqDistSql("pc2")}),
       |best AS (
       |  SELECT vec_id, m, k, dist,
       |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
       |  FROM dists
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "embed_bucket_stats" ->
      s"""WITH buckets AS ($BucketsSql)
         |SELECT n_vecs, count(*) AS n_buckets FROM (
         |  SELECT bucket, count(*) AS n_vecs FROM buckets GROUP BY bucket
         |) GROUP BY n_vecs ORDER BY n_vecs""".stripMargin,

    "embed_dim_moments" ->
      """WITH u AS (
        |  SELECT unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS vi
        |  FROM embeddings
        |),
        |m AS (SELECT pos, count(*) AS n, sum(vi) AS sv, sum(vi * vi) AS ssq
        |      FROM u GROUP BY pos)
        |SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
        |  round(CAST(sv AS DOUBLE) / n / 1e6, 4) AS mean,
        |  round(sqrt(greatest(0.0,
        |    CAST(ssq AS DOUBLE) / n - pow(CAST(sv AS DOUBLE) / n, 2))) / 1e6, 4) AS std
        |FROM m ORDER BY pos""".stripMargin,

    // Fold-order contract with the Spark side: every sum below is a
    // LEFT fold in index order seeded with 0.0 (list_prepend mirrors
    // Spark's aggregate(seq, 0.0, ...)), so the doubles — and their
    // 4-dp roundings — are bit-identical across engines.
    "embed_top_pc" ->
      """WITH u AS (
        |  SELECT vec_id, unnest(range(0, len(embedding))) AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e3) AS BIGINT) AS q
        |  FROM embeddings),
        |m AS (SELECT a.j AS i, b.j AS jj, sum(a.q * b.q) AS m
        |      FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2),
        |mfrow AS (SELECT list_transform(list(m ORDER BY i * 64 + jj),
        |                 e -> CAST(e AS DOUBLE)) AS mf FROM m),
        |s1 AS (SELECT mf, list_transform(range(0, 64), i ->
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(range(0, 64), j2 -> mf[i*64+j2+1] * 1.0)),
        |           (a, b) -> a + b)) AS y1 FROM mfrow),
        |n1 AS (SELECT mf, list_transform(y1, e -> e / sqrt(
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), y1),
        |           (a, b) -> a + b * b))) AS x1 FROM s1),
        |s2 AS (SELECT mf, list_transform(range(0, 64), i ->
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(range(0, 64), j2 -> mf[i*64+j2+1] * x1[j2+1])),
        |           (a, b) -> a + b)) AS y2 FROM n1),
        |n2 AS (SELECT mf, list_transform(y2, e -> e / sqrt(
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), y2),
        |           (a, b) -> a + b * b))) AS x2 FROM s2),
        |s3 AS (SELECT mf, list_transform(range(0, 64), i ->
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list_transform(range(0, 64), j2 -> mf[i*64+j2+1] * x2[j2+1])),
        |           (a, b) -> a + b)) AS y3raw FROM n2),
        |n3 AS (SELECT mf, list_transform(y3raw, e -> e / sqrt(
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), y3raw),
        |           (a, b) -> a + b * b))) AS x3 FROM s3),
        |fin AS (SELECT mf, x3,
        |  list_transform(range(0, 64), i ->
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(0, 64), j2 -> mf[i*64+j2+1] * x3[j2+1])),
        |      (a, b) -> a + b)) AS y3 FROM n3),
        |lamt AS (SELECT x3,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(range(0, 64), k -> x3[k+1] * y3[k+1])),
        |    (a, b) -> a + b) AS lam,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(range(0, 64), i -> mf[i*64+i+1])),
        |    (a, b) -> a + b) AS tr FROM fin)
        |SELECT CAST(pos0 + 1 AS BIGINT) AS pos,
        |  round(x3[pos0 + 1], 4) AS loading,
        |  round(lam / 1e6, 4) AS lam,
        |  round(lam / tr, 4) AS explained
        |FROM lamt, unnest(range(0, 64)) AS t(pos0)
        |ORDER BY pos""".stripMargin,

    "embed_abtt" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(0, len(embedding))) AS j,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e3) AS BIGINT) AS q
         |  FROM embeddings),
         |m AS (SELECT a.j AS i, b.j AS jj, sum(a.q * b.q) AS m
         |      FROM u a JOIN u b USING (vec_id) GROUP BY 1, 2),
         |sums AS (SELECT j, CAST(sum(q) AS BIGINT) AS sq FROM u GROUP BY j),
         |nv AS (SELECT count(*) AS n FROM embeddings),
         |gc AS (SELECT i, jj, n * n * m.m - n * si.sq * sj.sq AS g
         |       FROM m CROSS JOIN nv
         |       JOIN sums si ON si.j = m.i
         |       JOIN sums sj ON sj.j = m.jj),
         |mfrow AS (SELECT list_transform(list(g ORDER BY i * 64 + jj),
         |                 e -> CAST(e AS DOUBLE)) AS mf FROM gc),
         |${pcIterSql("mfrow", "mf", "x1", "a")},
         |aray AS (SELECT *, ${pcMvSql("mf", "x1[j2+1]")} AS ayr FROM an3),
         |lam1t AS (SELECT *, ${pcRaySql("x1", "ayr")} AS lam1,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(0, 64), i -> mf[i*64+i+1])),
         |    (a, b) -> a + b) AS tr FROM aray),
         |defl AS (SELECT *, list_transform(range(0, 4096), k ->
         |  mf[k+1] - lam1 * x1[k//64+1] * x1[k%64+1]) AS mf2 FROM lam1t),
         |${pcIterSql("defl", "mf2", "x2", "b")},
         |bray AS (SELECT *, ${pcMvSql("mf2", "x2[j2+1]")} AS byr FROM bn3),
         |lam2t AS (SELECT *, ${pcRaySql("x2", "byr")} AS lam2 FROM bray)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS pc, CAST(n AS BIGINT) AS n_vecs,
         |    round(lam1 / CAST(n * n AS DOUBLE) / 1e6, 4) AS lam_v2,
         |    round(lam1 / tr, 4) AS share
         |  FROM lam2t CROSS JOIN nv
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT) AS pc, CAST(n AS BIGINT) AS n_vecs,
         |    round(lam2 / CAST(n * n AS DOUBLE) / 1e6, 4) AS lam_v2,
         |    round(lam2 / (tr - lam1), 4) AS share
         |  FROM lam2t CROSS JOIN nv
         |) ORDER BY pc""".stripMargin,

    "embed_quantize" ->
      """WITH u AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |),
        |params AS (SELECT pos AS p_pos, min(v) AS lo, max(v) AS hi FROM u GROUP BY pos)
        |SELECT vec_id, pos,
        |  CAST(CASE WHEN hi = lo THEN 0
        |       ELSE round((v - lo) * 255.0 / (hi - lo)) END AS BIGINT) AS q
        |FROM u JOIN params ON u.pos = params.p_pos
        |WHERE vec_id < 20
        |ORDER BY vec_id, pos""".stripMargin,

    "embed_kmeans" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 8),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |members AS (SELECT cell, count(*) AS n FROM a2 GROUP BY cell)
         |SELECT c2.cell, m.n, c2.pos, c2.c AS c
         |FROM c2 JOIN members m ON m.cell = c2.cell
         |ORDER BY c2.cell, c2.pos""".stripMargin,
    // Same trained stage-1 chain as embed_kmeans; residuals join the
    // pq helper CTEs (e/cb0/update/argmin) on the integer grid; every
    // distortion is an exact BIGINT, the drop is one double division.
    "embed_rq" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0k AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 8),
         |a1k AS (${kmAssignSql("c0k")}),
         |c1k AS (${kmUpdateSql("a1k")}),
         |a2k AS (${kmAssignSql("c1k")}),
         |c2k AS (${kmUpdateSql("a2k")}),
         |af AS (${kmAssignSql("c2k")}),
         |ui AS (SELECT vec_id, pos,
         |         CAST(floor(v * 1000000.0) AS BIGINT) AS vi0 FROM u),
         |cii AS (SELECT cell, pos,
         |         CAST(floor(c * 1000000.0) AS BIGINT) AS cci FROM c2k),
         |e AS (
         |  SELECT ui.vec_id, af.cell, ui.pos, 0 AS m, ui.vi0 - cii.cci AS vi
         |  FROM ui JOIN af ON af.vec_id = ui.vec_id
         |  JOIN cii ON cii.cell = af.cell AND cii.pos = ui.pos),
         |cb0 AS (SELECT vec_id AS k, pos AS cpos, vi AS ci
         |        FROM e WHERE vec_id < 8),
         |dq0 AS (${pqDistSql("cb0")}),
         |ar1 AS (${pqArgminSql("dq0")}),
         |cb1 AS (${pqUpdateSql("ar1")}),
         |dqf AS (${pqDistSql("cb1")}),
         |fin AS (SELECT vec_id, k AS rcode, dist AS d2 FROM (
         |  SELECT vec_id, m, k, dist,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, k) AS rn
         |  FROM dqf) WHERE rn = 1),
         |dd1 AS (SELECT vec_id, cell, CAST(sum(vi * vi) AS BIGINT) AS d1
         |        FROM e GROUP BY vec_id, cell)
         |SELECT dd1.cell, fin.rcode, count(*) AS n_vecs,
         |  CAST(sum(dd1.d1) AS BIGINT) AS sum_d1,
         |  CAST(sum(fin.d2) AS BIGINT) AS sum_d2,
         |  CASE WHEN sum(dd1.d1) = 0 THEN 0.0
         |    ELSE round(1.0 - CAST(sum(fin.d2) AS DOUBLE)
         |      / CAST(sum(dd1.d1) AS DOUBLE), 4) END AS distortion_drop
         |FROM dd1 JOIN fin ON fin.vec_id = dd1.vec_id
         |GROUP BY dd1.cell, fin.rcode
         |ORDER BY dd1.cell, fin.rcode""".stripMargin,

    // Same trained-c2 chain as embed_kmeans; top-2 scores on the
    // rounded 1e-4 grid, silhouette as exact e8 integers, one double
    // division per cell at output.
    "embed_silhouette" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 8),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |sc2 AS (
         |  SELECT sc.vec_id, sc.cell,
         |    CAST(round(sc.cos * 10000) AS BIGINT) AS k4,
         |    row_number() OVER (PARTITION BY sc.vec_id
         |      ORDER BY sc.cos DESC, sc.cell) AS rn
         |  FROM (
         |    SELECT u.vec_id, c.cell,
         |      round(sum(u.v * c.c) / (n.nrm * cn.cnrm), 4) AS cos
         |    FROM u JOIN c2 c ON u.pos = c.pos
         |    JOIN norms n ON n.vec_id = u.vec_id
         |    JOIN (SELECT cell, sqrt(sum(c * c)) AS cnrm FROM c2 GROUP BY cell) cn
         |      ON cn.cell = c.cell
         |    GROUP BY u.vec_id, c.cell, n.nrm, cn.cnrm
         |  ) sc),
         |own AS (SELECT vec_id, cell, k4 AS a4 FROM sc2 WHERE rn = 1),
         |nxt AS (SELECT vec_id, k4 AS b4 FROM sc2 WHERE rn = 2),
         |sil AS (
         |  SELECT own.vec_id, own.cell,
         |    CASE WHEN b4 = 10000 THEN CAST(0 AS BIGINT)
         |         ELSE CAST(round(CAST(a4 - b4 AS DOUBLE)
         |           / (10000.0 - CAST(b4 AS DOUBLE)) * 100000000.0) AS BIGINT)
         |    END AS s8
         |  FROM own JOIN nxt USING (vec_id))
         |SELECT cell, count(*) AS n_vecs,
         |  round(CAST(sum(s8) AS DOUBLE) / (count(*) * 100000000.0), 4)
         |    AS mean_sil,
         |  CAST(min(s8) AS BIGINT) AS min_s8, CAST(max(s8) AS BIGINT) AS max_s8
         |FROM sil GROUP BY cell ORDER BY cell""".stripMargin,

    "sim_threshold_sweep" ->
      s"""WITH ua AS (${unnested("a", "vec_id < 200")}),
         |ub AS (${unnested("b", "vec_id < 200")}),
         |norms AS ($NormsSql),
         |dots AS (
         |  SELECT a_id, b_id, sum(ua.v * ub.v) AS dp
         |  FROM ua JOIN ub ON ua.pos = ub.pos AND ua.a_id < ub.b_id
         |  GROUP BY a_id, b_id
         |),
         |cos AS (
         |  SELECT round(dp / (na.nrm * nb.nrm), 4) AS c
         |  FROM dots JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id
         |),
         |ths AS (SELECT CAST(unnest([0.2, 0.25, 0.3, 0.35, 0.4]) AS DOUBLE) AS th)
         |SELECT th, CAST(count(*) FILTER (WHERE c >= th) AS BIGINT) AS n_pairs
         |FROM cos CROSS JOIN ths GROUP BY th ORDER BY th""".stripMargin,

    "sim_cosine_pairs" ->
      s"""WITH ua AS (${unnested("a", "vec_id < 200")}),
         |ub AS (${unnested("b", "vec_id < 200")}),
         |norms AS ($NormsSql),
         |dots AS (
         |  SELECT a_id, b_id, sum(ua.v * ub.v) AS dp
         |  FROM ua JOIN ub ON ua.pos = ub.pos AND ua.a_id < ub.b_id
         |  GROUP BY a_id, b_id
         |)
         |SELECT a_id, b_id, round(dp / (na.nrm * nb.nrm), 4) AS cos
         |FROM dots JOIN norms na ON na.vec_id = a_id
         |JOIN norms nb ON nb.vec_id = b_id
         |WHERE round(dp / (na.nrm * nb.nrm), 4) > 0.25
         |ORDER BY a_id, b_id""".stripMargin,

    // Exact ⌊v·1e6⌋ integer grid: ip and n2 are exact BIGINTs, so the
    // cosine double tree is bit-identical to the Spark side whatever
    // order this engine sums in.
    "sim_range_search" ->
      s"""WITH buckets AS ($BucketsSql),
         |ui AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vi
         |  FROM embeddings),
         |n2 AS (SELECT vec_id, CAST(sum(vi * vi) AS BIGINT) AS n2
         |       FROM ui GROUP BY vec_id),
         |pairs AS (
         |  SELECT ua.vec_id AS a_id, ub.vec_id AS b_id,
         |    round(CAST(CAST(sum(ua.vi * ub.vi) AS BIGINT) AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
         |      AS cos
         |  FROM ui ua JOIN ui ub ON ua.pos = ub.pos AND ua.vec_id < ub.vec_id
         |  JOIN buckets ba ON ba.vec_id = ua.vec_id
         |  JOIN buckets bb ON bb.vec_id = ub.vec_id AND ba.bucket = bb.bucket
         |  JOIN n2 na ON na.vec_id = ua.vec_id
         |  JOIN n2 nb ON nb.vec_id = ub.vec_id
         |  GROUP BY ua.vec_id, ub.vec_id, na.n2, nb.n2
         |  HAVING round(CAST(CAST(sum(ua.vi * ub.vi) AS BIGINT) AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
         |    >= 0.3),
         |sym AS (
         |  SELECT a_id AS vec_id, CAST(round(cos * 10000) AS BIGINT) AS c4
         |  FROM pairs
         |  UNION ALL
         |  SELECT b_id, CAST(round(cos * 10000) AS BIGINT) FROM pairs)
         |SELECT vec_id, count(*) AS n_neighbors,
         |  CAST(sum(c4) // count(*) AS BIGINT) AS mean_cos_e4,
         |  max(c4) AS max_cos_e4
         |FROM sym GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "sim_knn" ->
      s"""WITH uq AS (${unnested("q", "vec_id < 10")}),
         |un AS (${unnested("n", "true")}),
         |norms AS ($NormsSql),
         |scored AS (
         |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm
         |)
         |SELECT q_id, n_id, cos, rk FROM (
         |  SELECT q_id, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
         |  FROM scored
         |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "sim_knn_lsh" ->
      s"""WITH buckets AS ($BucketsSql),
         |uq AS (${unnested("q", "vec_id < 10")}),
         |un AS (${unnested("n", "true")}),
         |norms AS ($NormsSql),
         |scored AS (
         |  SELECT q_id, bq.bucket, n_id,
         |    round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN buckets bq ON bq.vec_id = uq.q_id
         |  JOIN buckets bn ON bn.vec_id = un.n_id AND bn.bucket = bq.bucket
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, bq.bucket, n_id, nq.nrm, nn.nrm
         |)
         |SELECT q_id, bucket, n_id, cos, rk FROM (
         |  SELECT q_id, bucket, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
         |  FROM scored
         |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "sim_knn_graph_stats" ->
      s"""WITH buckets AS ($BucketsSql),
         |ua AS (${unnested("a", "true")}),
         |ub AS (${unnested("b", "true")}),
         |norms AS ($NormsSql),
         |scored AS (
         |  SELECT a_id, b_id,
         |    round(sum(ua.v * ub.v) / (na.nrm * nb.nrm), 4) AS cos
         |  FROM ua JOIN ub ON ua.pos = ub.pos AND ua.a_id <> ub.b_id
         |  JOIN buckets ba ON ba.vec_id = ua.a_id
         |  JOIN buckets bb ON bb.vec_id = ub.b_id AND bb.bucket = ba.bucket
         |  JOIN norms na ON na.vec_id = ua.a_id
         |  JOIN norms nb ON nb.vec_id = ub.b_id
         |  GROUP BY a_id, b_id, na.nrm, nb.nrm
         |),
         |edges AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id,
         |      row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
         |    FROM scored
         |  ) WHERE rk <= 3
         |)
         |SELECT l.label, count(*) AS n_edges,
         |  CAST(sum(CASE WHEN r.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mutual,
         |  CAST(sum(CASE WHEN r.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    * 10000 // count(*) AS recip_e4
         |FROM edges e
         |JOIN embeddings l ON l.vec_id = e.a_id
         |LEFT JOIN edges r ON r.a_id = e.b_id AND r.b_id = e.a_id
         |GROUP BY l.label ORDER BY l.label""".stripMargin,

    "sim_knn_graph" ->
      s"""WITH $graphSearchSql
         |SELECT q_id, n_id, cos, rk FROM gres ORDER BY q_id, rk""".stripMargin,

    "sim_recall_graph" ->
      s"""WITH $graphSearchSql,
         |bscored AS (
         |  SELECT q_id, n_id,
         |    round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm
         |),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM bscored) WHERE rk <= 5)
         |SELECT t.q_id, count(*) AS n_truth,
         |  CAST(sum(CASE WHEN g.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(CAST(sum(CASE WHEN g.n_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS recall
         |FROM truth t
         |LEFT JOIN gres g ON g.q_id = t.q_id AND g.n_id = t.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,

    // Same edges as the mutual-kNN census (bucket-gated candidates,
    // pair-first join order); the majority decision is pure integers.
    "embed_knn_label_acc" ->
      s"""WITH buckets AS ($BucketsSql),
         |ua AS (${unnested("a", "true")}),
         |ub AS (${unnested("b", "true")}),
         |norms AS ($NormsSql),
         |cand AS (
         |  SELECT ba.vec_id AS a_id, la.label AS a_label,
         |    bb.vec_id AS b_id, lb.label AS b_label
         |  FROM buckets ba
         |  JOIN buckets bb ON bb.bucket = ba.bucket AND bb.vec_id <> ba.vec_id
         |  JOIN embeddings la ON la.vec_id = ba.vec_id
         |  JOIN embeddings lb ON lb.vec_id = bb.vec_id
         |),
         |dots AS (
         |  SELECT c.a_id, c.a_label, c.b_id, c.b_label,
         |    sum(ua.v * ub.v) AS dp
         |  FROM cand c
         |  JOIN ua ON ua.a_id = c.a_id
         |  JOIN ub ON ub.b_id = c.b_id AND ub.pos = ua.pos
         |  GROUP BY 1, 2, 3, 4
         |),
         |scored AS (
         |  SELECT a_id, a_label, b_id, b_label,
         |    round(dp / (na.nrm * nb.nrm), 4) AS cos
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id
         |),
         |edges AS (
         |  SELECT a_id, a_label, b_label FROM (
         |    SELECT a_id, a_label, b_label,
         |      row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
         |    FROM scored
         |  ) WHERE rk <= 3
         |),
         |per AS (
         |  SELECT a_id, a_label, count(*) AS cnt,
         |    sum(CASE WHEN b_label = a_label THEN 1 ELSE 0 END) AS same
         |  FROM edges GROUP BY 1, 2
         |)
         |SELECT a_label AS label, CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN same * 2 > cnt THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_correct,
         |  CAST(sum(CASE WHEN same * 2 > cnt THEN 1 ELSE 0 END) AS BIGINT)
         |    * 10000 // CAST(count(*) AS BIGINT) AS acc_e4
         |FROM per GROUP BY a_label ORDER BY label""".stripMargin,

    // Candidate pairs materialize FIRST (bucket equi-join + label
    // filter), then the per-pair dot joins the unnested vectors — the
    // sim_recall_ivf idots shape. The single-CTE form let DuckDB pick
    // a pos-first join order at sf0.1 (|V|²·64 intermediate rows,
    // ~80 GB of spill → ENOSPC); pair-first bounds the dot join at
    // Σ|bucket|²·64 rows.
    "sim_hard_negatives" ->
      s"""WITH buckets AS ($BucketsSql),
         |ua AS (${unnested("a", "true")}),
         |ub AS (${unnested("b", "true")}),
         |norms AS ($NormsSql),
         |cand AS (
         |  SELECT ba.vec_id AS a_id, la.label AS a_label,
         |    bb.vec_id AS b_id, lb.label AS n_label
         |  FROM buckets ba
         |  JOIN buckets bb ON bb.bucket = ba.bucket AND bb.vec_id <> ba.vec_id
         |  JOIN embeddings la ON la.vec_id = ba.vec_id
         |  JOIN embeddings lb ON lb.vec_id = bb.vec_id
         |  WHERE la.label <> lb.label
         |),
         |dots AS (
         |  SELECT c.a_id, c.a_label, c.b_id, c.n_label,
         |    sum(ua.v * ub.v) AS dp
         |  FROM cand c
         |  JOIN ua ON ua.a_id = c.a_id
         |  JOIN ub ON ub.b_id = c.b_id AND ub.pos = ua.pos
         |  GROUP BY 1, 2, 3, 4
         |),
         |scored AS (
         |  SELECT a_id, a_label, b_id, n_label,
         |    round(dp / (na.nrm * nb.nrm), 4) AS cos
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id
         |)
         |SELECT a_id, a_label, b_id AS n_id, n_label, cos, rk FROM (
         |  SELECT a_id, a_label, b_id, n_label, cos,
         |    CAST(row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id)
         |      AS BIGINT) AS rk
         |  FROM scored
         |) WHERE rk <= 3 ORDER BY a_id, rk""".stripMargin,

    // HUGEINT carries the member·sum cross products (the Spark side
    // lifts through DECIMAL(38,0)); every cross-row sum is an integer
    // sum, the only doubles are one fixed-order floor expression.
    "embed_isotropy" ->
      """WITH u AS (
        |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS iv
        |  FROM embeddings
        |), ls AS (
        |  SELECT label, pos, CAST(sum(iv) AS BIGINT) AS sv
        |  FROM u GROUP BY 1, 2
        |), s2 AS (
        |  SELECT label, sum(CAST(sv AS HUGEINT) * sv) AS s2 FROM ls GROUP BY 1
        |), dv AS (
        |  SELECT u.vec_id, u.label,
        |    CAST(sum(u.iv * u.iv) AS BIGINT) AS d2v,
        |    sum(CAST(u.iv AS HUGEINT) * ls.sv) AS dvs
        |  FROM u JOIN ls ON u.label = ls.label AND u.pos = ls.pos
        |  GROUP BY 1, 2
        |), per AS (
        |  SELECT dv.label,
        |    CASE WHEN d2v = 0 THEN 0
        |         ELSE CAST(floor(CAST(dvs AS DOUBLE)
        |           / (sqrt(CAST(d2v AS DOUBLE)) * sqrt(CAST(s2.s2 AS DOUBLE)))
        |           * 1e4) AS BIGINT) END AS ci,
        |    CAST(floor(sqrt(CAST(d2v AS DOUBLE))) AS BIGINT) AS nv
        |  FROM dv JOIN s2 ON dv.label = s2.label
        |)
        |SELECT p.label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  CAST(sum(ci) AS BIGINT) AS sum_cos_c_e4,
        |  CAST(floor(sqrt(CAST(s2.s2 AS DOUBLE))) AS BIGINT) * 10000
        |    // CAST(sum(nv) AS BIGINT) AS norm_ratio_e4
        |FROM per p JOIN s2 ON p.label = s2.label
        |GROUP BY p.label, s2.s2 ORDER BY p.label""".stripMargin,

    // Same trained-centroid chain as sim_recall_ivf; the rank CTE is
    // kmAssignSql's inner shape with rn exposed.
    "sim_ivf_routing_depth" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 16),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |assign AS (${kmAssignSql("c2")}),
         |bdots AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.v * b.v) AS dp
         |  FROM u a JOIN u b ON a.pos = b.pos
         |    AND a.vec_id < 10 AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2
         |),
         |bscored AS (
         |  SELECT q_id, n_id, round(dp / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM bdots JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nn ON nn.vec_id = n_id
         |),
         |truth AS (
         |  SELECT q_id, n_id AS true_nn FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |    FROM bscored
         |  ) WHERE rk = 1
         |),
         |qranks AS (
         |  SELECT sc.vec_id AS q_id, sc.cell,
         |    CAST(row_number() OVER (PARTITION BY sc.vec_id
         |      ORDER BY sc.cos DESC, sc.cell) AS BIGINT) AS prk
         |  FROM (
         |    SELECT u.vec_id, c.cell,
         |      round(sum(u.v * c.c) / (n.nrm * cn.cnrm), 4) AS cos
         |    FROM u JOIN c2 c ON u.pos = c.pos
         |    JOIN norms n ON n.vec_id = u.vec_id
         |    JOIN (SELECT cell, sqrt(sum(c * c)) AS cnrm FROM c2 GROUP BY cell) cn
         |      ON cn.cell = c.cell
         |    WHERE u.vec_id < 10
         |    GROUP BY u.vec_id, c.cell, n.nrm, cn.cnrm
         |  ) sc
         |)
         |SELECT t.q_id, t.true_nn, CAST(a.cell AS BIGINT) AS nn_cell,
         |  r.prk AS depth
         |FROM truth t
         |JOIN assign a ON a.vec_id = t.true_nn
         |JOIN qranks r ON r.q_id = t.q_id AND r.cell = a.cell
         |ORDER BY t.q_id""".stripMargin,

    // Pure-arithmetic prediction of the ImageIO decode (the
    // decode_hist contract): integer gray pixels, integer mean,
    // bit-shift packing — no float ever crosses the compare. Pixel
    // index k enumerates a constant 0..96 range filtered to w·h
    // (max dims 12×8), with x = k % w, y = k // w row-major.
    "multimodal_ahash_dedup" ->
      s"""WITH $AhashSql,
        |$AhashBandedSql,
        |sym AS (
        |  SELECT a_id AS id, hd FROM near
        |  UNION ALL SELECT b_id, hd FROM near
        |), counts AS (
        |  SELECT id, sum(CASE WHEN hd = 0 THEN 1 ELSE 0 END) AS ned,
        |    count(*) AS nn
        |  FROM sym GROUP BY id
        |)
        |SELECT a.id AS doc_id, CAST(a.w AS BIGINT) AS width,
        |  CAST(a.h AS BIGINT) AS height, a.mean_lum, a.h0, a.h1,
        |  CAST(coalesce(c.ned, 0) AS BIGINT) AS n_exact_dup,
        |  CAST(coalesce(c.nn, 0) AS BIGINT) AS n_near
        |FROM hs a LEFT JOIN counts c ON a.id = c.id
        |ORDER BY doc_id""".stripMargin,

    "multimodal_ahash_recall" ->
      s"""WITH $AhashSql,
        |$AhashBandedSql,
        |truth AS (
        |  SELECT CASE WHEN hd = 0 THEN 0 WHEN hd <= 4 THEN 1 ELSE 2 END
        |    AS hd_bucket, count(*) AS n_truth
        |  FROM (
        |    SELECT bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
        |      AS hd
        |    FROM hs a JOIN hs b ON a.id < b.id
        |  ) WHERE hd <= 8 GROUP BY 1
        |), bn AS (
        |  SELECT CASE WHEN hd = 0 THEN 0 WHEN hd <= 4 THEN 1 ELSE 2 END
        |    AS hd_bucket, count(*) AS nb
        |  FROM near GROUP BY 1
        |)
        |SELECT CAST(t.hd_bucket AS BIGINT) AS hd_bucket, t.n_truth,
        |  CAST(coalesce(bn.nb, 0) AS BIGINT) AS n_banded,
        |  coalesce(bn.nb, 0) * 10000 // t.n_truth AS recall_e4
        |FROM truth t LEFT JOIN bn ON bn.hd_bucket = t.hd_bucket
        |ORDER BY t.hd_bucket""".stripMargin,

    "sim_recall_eval" ->
      s"""WITH uq AS (${unnested("q", "vec_id < 10")}),
         |un AS (${unnested("n", "true")}),
         |norms AS ($NormsSql),
         |buckets AS ($BucketsSql),
         |bscored AS (
         |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm
         |),
         |brute AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |    FROM bscored
         |  ) WHERE rk <= 5
         |),
         |lscored AS (
         |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN buckets bq ON bq.vec_id = uq.q_id
         |  JOIN buckets bn ON bn.vec_id = un.n_id AND bn.bucket = bq.bucket
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm
         |),
         |lsh AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |    FROM lscored
         |  ) WHERE rk <= 5
         |),
         |lcnt AS (SELECT q_id, count(*) AS n_lsh FROM lsh GROUP BY q_id),
         |hits AS (
         |  SELECT b.q_id, count(*) AS n_brute, count(l.n_id) AS n_hits
         |  FROM brute b LEFT JOIN lsh l ON l.q_id = b.q_id AND l.n_id = b.n_id
         |  GROUP BY b.q_id
         |)
         |SELECT h.q_id, h.n_brute, coalesce(lcnt.n_lsh, 0) AS n_lsh, h.n_hits,
         |  round(CAST(h.n_hits AS DOUBLE) / h.n_brute, 4) AS recall
         |FROM hits h LEFT JOIN lcnt ON lcnt.q_id = h.q_id
         |ORDER BY h.q_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH u AS (
         |  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |dots AS (
         |  SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dp
         |  FROM u a JOIN u b ON a.label = b.label AND a.pos = b.pos
         |    AND a.vec_id < b.vec_id
         |  GROUP BY a.label, a_id, b_id
         |)
         |SELECT CAST(label AS BIGINT) AS label, a_id, b_id,
         |  round(dp / (na.nrm * nb.nrm), 4) AS cos
         |FROM dots JOIN norms na ON na.vec_id = a_id
         |JOIN norms nb ON nb.vec_id = b_id
         |WHERE round(dp / (na.nrm * nb.nrm), 4) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,

    "embed_pq" ->
      s"""WITH $PqCtes
         |SELECT vec_id, m AS subspace, k AS code, dist AS dist_sq
         |FROM best WHERE rn = 1
         |ORDER BY vec_id, subspace""".stripMargin,

    "sim_centroid_separation" ->
      """WITH u AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |    unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT)
        |      AS vi
        |  FROM embeddings
        |), c AS (
        |  SELECT label, pos, CAST(sum(vi) AS BIGINT) AS sv
        |  FROM u GROUP BY label, pos
        |), p AS (
        |  SELECT a.label AS la, b.label AS lb,
        |    sum(a.sv * b.sv) AS dot,
        |    sum(a.sv * a.sv) AS saa,
        |    sum(b.sv * b.sv) AS sbb
        |  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY la, lb
        |)
        |SELECT la, lb,
        |  round(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE))), 4) AS cos
        |FROM p ORDER BY la, lb""".stripMargin,

    // IVF chain renamed (fu/f0/fa…/fc…) so it composes with PqCtes'
    // u/e/c0 in one WITH block; both chains are byte-equivalent to
    // the graded sim_knn_ivf / sim_knn_pq training CTEs.
    "sim_knn_ivfpq" -> {
      val fuSql =
        """SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
          |    CAST(unnest(embedding) AS DOUBLE) AS v
          |  FROM embeddings""".stripMargin
      s"""WITH fu AS ($fuSql),
         |norms AS ($NormsSql),
         |f0 AS (SELECT vec_id AS cell, pos, v AS c FROM fu WHERE vec_id < 16),
         |fa1 AS (${kmAssignSql("f0", u = "fu")}),
         |fc1 AS (${kmUpdateSql("fa1", u = "fu")}),
         |fa2 AS (${kmAssignSql("fc1", u = "fu")}),
         |fc2 AS (${kmUpdateSql("fa2", u = "fu")}),
         |assign AS (${kmAssignSql("fc2", u = "fu")}),
         |qtop AS (${kmAssignSql("fc2", topn = 2, u = "fu")}),
         |$PqCtes,
         |codes AS (SELECT vec_id, m, k FROM best WHERE rn = 1),
         |cand AS (
         |  SELECT qa.vec_id AS q_id, nb.vec_id AS n_id
         |  FROM qtop qa JOIN assign nb ON qa.cell = nb.cell
         |    AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id),
         |dtab AS (SELECT vec_id AS q_id, m, k, dist FROM dists
         |         WHERE vec_id < 10),
         |adc AS (
         |  SELECT c2.q_id, codes.vec_id AS n_id,
         |    CAST(sum(dtab.dist) AS BIGINT) AS adc_dist
         |  FROM codes JOIN cand c2 ON codes.vec_id = c2.n_id
         |  JOIN dtab ON dtab.q_id = c2.q_id AND dtab.m = codes.m
         |    AND dtab.k = codes.k
         |  GROUP BY c2.q_id, codes.vec_id)
         |SELECT q_id, rnk, n_id, adc_dist FROM (
         |  SELECT q_id, n_id, adc_dist,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY adc_dist, n_id) AS BIGINT) AS rnk
         |  FROM adc) WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    },

    "sim_knn_pq" ->
      s"""WITH $PqCtes,
         |codes AS (SELECT vec_id, m, k FROM best WHERE rn = 1),
         |dtab AS (SELECT vec_id AS q_id, m, k, dist FROM dists WHERE vec_id < 10),
         |adc AS (
         |  SELECT dtab.q_id, codes.vec_id,
         |    CAST(sum(dtab.dist) AS BIGINT) AS adc_dist
         |  FROM codes JOIN dtab ON codes.m = dtab.m AND codes.k = dtab.k
         |  WHERE codes.vec_id <> dtab.q_id
         |  GROUP BY dtab.q_id, codes.vec_id
         |), ranked AS (
         |  SELECT q_id, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rnk
         |  FROM adc
         |)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id AS n_id, adc_dist
         |FROM ranked WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "sim_recall_pq" ->
      s"""WITH $PqCtes,
         |codes AS (SELECT vec_id, m, k FROM best WHERE rn = 1),
         |dtab AS (SELECT vec_id AS q_id, m, k, dist FROM dists WHERE vec_id < 10),
         |adc AS (
         |  SELECT dtab.q_id, codes.vec_id,
         |    CAST(sum(dtab.dist) AS BIGINT) AS adc_dist
         |  FROM codes JOIN dtab ON codes.m = dtab.m AND codes.k = dtab.k
         |  WHERE codes.vec_id <> dtab.q_id
         |  GROUP BY dtab.q_id, codes.vec_id
         |), adct AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rnk
         |    FROM adc
         |  ) WHERE rnk <= 3
         |), qs AS (
         |  SELECT vec_id AS q_id, pos, vi FROM u WHERE vec_id < 10
         |), exact AS (
         |  SELECT qs.q_id, u.vec_id,
         |    CAST(sum((u.vi - qs.vi) * (u.vi - qs.vi)) AS BIGINT) AS dist
         |  FROM u JOIN qs ON u.pos = qs.pos
         |  WHERE u.vec_id <> qs.q_id
         |  GROUP BY qs.q_id, u.vec_id
         |), truth AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY dist, vec_id) AS rnk
         |    FROM exact
         |  ) WHERE rnk <= 3
         |)
         |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(count(a.vec_id) AS BIGINT) AS n_hits,
         |  round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM truth t LEFT JOIN adct a
         |  ON t.q_id = a.q_id AND t.vec_id = a.vec_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,

    "embed_pq_distortion" ->
      s"""WITH $PqCtes,
         |codes AS (SELECT vec_id, m, k, dist FROM best WHERE rn = 1)
         |SELECT m AS subspace, k AS code, count(*) AS n_vecs,
         |  round(CAST(sum(dist) AS DOUBLE) / count(*) / 1000000000000.0, 4)
         |    AS avg_dist,
         |  max(dist) AS max_dist_sq
         |FROM codes GROUP BY subspace, code
         |ORDER BY subspace, code""".stripMargin,

    "sim_knn_mips" ->
      """WITH u AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vi
        |  FROM embeddings
        |),
        |q AS (SELECT vec_id AS q_id, pos, vi AS qi FROM u WHERE vec_id < 10),
        |sc AS (
        |  SELECT q.q_id, u.vec_id, CAST(sum(u.vi * q.qi) AS BIGINT) AS ip
        |  FROM u JOIN q ON u.pos = q.pos
        |  WHERE u.vec_id <> q.q_id
        |  GROUP BY 1, 2)
        |SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id AS n_id, ip FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY ip DESC, vec_id) AS rk
        |  FROM sc)
        |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "embed_outlier_vecs" ->
      s"""WITH u AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |cent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(floor(v * 1000000.0) AS BIGINT)) AS DOUBLE)
         |      / (1000000.0 * count(*)) AS c
         |  FROM u GROUP BY 1, 2),
         |cn AS (SELECT label, sqrt(sum(c * c)) AS cnrm FROM cent GROUP BY 1),
         |norms AS ($NormsSql),
         |dots AS (
         |  SELECT u.vec_id, u.label, sum(u.v * cent.c) AS dp
         |  FROM u JOIN cent ON u.label = cent.label AND u.pos = cent.pos
         |  GROUP BY 1, 2)
         |SELECT d.vec_id, d.label, round(dp / (n.nrm * cn.cnrm), 4) AS cos
         |FROM dots d JOIN norms n ON n.vec_id = d.vec_id
         |JOIN cn ON cn.label = d.label
         |WHERE round(dp / (n.nrm * cn.cnrm), 4) < 0.75
         |ORDER BY d.vec_id""".stripMargin,

    "embed_ivf_stats" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 16),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |a3 AS (${kmAssignSql("c2")}),
         |ei AS (SELECT u.vec_id, a.cell, u.pos,
         |         CAST(floor(u.v * 1000000.0) AS BIGINT) AS vi
         |       FROM u JOIN a3 a ON a.vec_id = u.vec_id),
         |ic AS (SELECT cell, pos,
         |         CAST((sum(vi) - ((sum(vi) % count(*)) + count(*)) % count(*))
         |           // count(*) AS BIGINT) AS ci
         |       FROM ei GROUP BY 1, 2),
         |vd AS (SELECT ei.vec_id, ei.cell,
         |         CAST(sum((ei.vi - ic.ci) * (ei.vi - ic.ci)) AS BIGINT) AS dist
         |       FROM ei JOIN ic ON ic.cell = ei.cell AND ic.pos = ei.pos
         |       GROUP BY 1, 2)
         |SELECT cell, count(*) AS n_vecs,
         |  round(CAST(sum(dist) AS DOUBLE) / count(*) / 1000000000000.0, 4)
         |    AS avg_dist,
         |  max(dist) AS max_dist_sq
         |FROM vd GROUP BY cell ORDER BY cell""".stripMargin,

    "sim_recall_ivf" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 16),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |assign AS (${kmAssignSql("c2")}),
         |qtop2 AS (${kmAssignSql("c2", topn = 2)}),
         |qtop4 AS (${kmAssignSql("c2", topn = 4)}),
         |pairs1 AS (
         |  SELECT qa.vec_id AS q_id, nb.vec_id AS n_id
         |  FROM assign qa JOIN assign nb ON qa.cell = nb.cell
         |    AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id
         |),
         |pairs2 AS (
         |  SELECT qa.vec_id AS q_id, nb.vec_id AS n_id
         |  FROM qtop2 qa JOIN assign nb ON qa.cell = nb.cell
         |    AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id
         |),
         |pairs4 AS (
         |  SELECT qa.vec_id AS q_id, nb.vec_id AS n_id
         |  FROM qtop4 qa JOIN assign nb ON qa.cell = nb.cell
         |    AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id
         |),
         |pairsu AS (
         |  SELECT 1 AS np, q_id, n_id FROM pairs1
         |  UNION ALL SELECT 2, q_id, n_id FROM pairs2
         |  UNION ALL SELECT 4, q_id, n_id FROM pairs4
         |),
         |idots AS (
         |  SELECT p.np, p.q_id, p.n_id, sum(a.v * b.v) AS dp
         |  FROM pairsu p JOIN u a ON a.vec_id = p.q_id
         |  JOIN u b ON b.vec_id = p.n_id AND b.pos = a.pos
         |  GROUP BY p.np, p.q_id, p.n_id
         |),
         |iscored AS (
         |  SELECT np, q_id, n_id, round(dp / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM idots JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nn ON nn.vec_id = n_id
         |),
         |ivf AS (
         |  SELECT np, q_id, n_id FROM (
         |    SELECT np, q_id, n_id,
         |      row_number() OVER (PARTITION BY np, q_id ORDER BY cos DESC, n_id) AS rk
         |    FROM iscored
         |  ) WHERE rk <= 5
         |),
         |bdots AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, sum(a.v * b.v) AS dp
         |  FROM u a JOIN u b ON a.pos = b.pos
         |    AND a.vec_id < 10 AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2
         |),
         |bscored AS (
         |  SELECT q_id, n_id, round(dp / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM bdots JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nn ON nn.vec_id = n_id
         |),
         |brute AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |    FROM bscored
         |  ) WHERE rk <= 5
         |),
         |hits AS (
         |  SELECT np.np, b.q_id, count(*) AS n_brute, count(i.n_id) AS n_hits
         |  FROM (SELECT 1 AS np UNION ALL SELECT 2 UNION ALL SELECT 4) np
         |  CROSS JOIN brute b
         |  LEFT JOIN ivf i
         |    ON i.np = np.np AND i.q_id = b.q_id AND i.n_id = b.n_id
         |  GROUP BY np.np, b.q_id
         |)
         |SELECT CAST(np AS BIGINT) AS nprobe, q_id, n_brute, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_brute, 4) AS recall
         |FROM hits ORDER BY nprobe, q_id""".stripMargin,

    // nDCG@5 of all four ANN paths vs the brute cosine universe:
    // tier CASEs on the same round-4 cosines, integer gains, and the
    // SAME pinned 1/log₂(rk+1) literals; each discounted sum is the
    // identical left-assoc 5-term double expression as the Spark
    // pivot. The IVF chain reuses kmAssign/kmUpdate CTEs on `uall`
    // (PqCtes owns the `u`/`c0` names), LSH and IVF candidate ranks
    // reuse the brute `bscored` cosines (same round-4 values), PQ and
    // Hamming replay their graded-oracle chains.
    "sim_ndcg_eval" ->
      s"""WITH $annEvalChainSql,
         |rg AS (
         |  SELECT r.path, r.q_id, r.rk,
         |    CASE t.tier WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END AS g
         |  FROM retr r JOIN tiers t ON t.q_id = r.q_id AND t.n_id = r.n_id),
         |dcg AS (
         |  SELECT path, q_id, count(*) AS n_ret,
         |    $dcgSql AS dcg_raw
         |  FROM rg GROUP BY path, q_id),
         |spine AS (
         |  SELECT p.path, qv.vec_id AS q_id
         |  FROM (SELECT unnest(['lsh', 'ivf', 'pq', 'hamming']) AS path) p
         |  CROSS JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 10) qv)
         |SELECT sp.path, sp.q_id,
         |  CAST(coalesce(d.n_ret, 0) AS BIGINT) AS n_retrieved,
         |  round(coalesce(d.dcg_raw, 0.0), 4) AS dcg,
         |  round(i.idcg_raw, 4) AS idcg,
         |  CASE WHEN i.idcg_raw > 0 THEN
         |    round(coalesce(d.dcg_raw, 0.0) / i.idcg_raw, 4) END AS ndcg
         |FROM spine sp
         |LEFT JOIN dcg d ON d.path = sp.path AND d.q_id = sp.q_id
         |JOIN idcg i ON i.q_id = sp.q_id
         |ORDER BY sp.path, sp.q_id""".stripMargin,

    // Reciprocal-rank fusion of the same four retrieval chains: the
    // per-rank contributions are EXACT integers (495593280 = lcm(61..65),
    // so N // (60+rk) divides exactly — no double sum whose order an
    // engine could permute); fused ranks tie to the lower n_id; the
    // fused top-5 grades against the same tiers/idcg CTEs.
    "sim_rrf_fusion" ->
      s"""WITH $annEvalChainSql,
         |rrf AS (
         |  SELECT q_id, n_id, count(*) AS n_paths,
         |    CAST(sum($RrfDen // (60 + rk)) AS BIGINT) AS rrf_int
         |  FROM retr GROUP BY q_id, n_id),
         |fused AS (
         |  SELECT q_id, n_id, rrf_int,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY rrf_int DESC, n_id) AS frk
         |  FROM rrf),
         |cands AS (
         |  SELECT q_id, count(*) AS n_candidates,
         |    CAST(sum(CASE WHEN n_paths >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_multi,
         |    max(rrf_int) AS top_rrf_scaled
         |  FROM rrf GROUP BY q_id),
         |fg AS (
         |  SELECT f.q_id, f.frk AS rk,
         |    CASE t.tier WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1 ELSE 0 END AS g
         |  FROM fused f JOIN tiers t ON t.q_id = f.q_id AND t.n_id = f.n_id
         |  WHERE f.frk <= 5),
         |fdcg AS (
         |  SELECT q_id, count(*) AS n_ret,
         |    $dcgSql AS dcg_raw
         |  FROM fg GROUP BY q_id),
         |qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10)
         |SELECT qs.q_id,
         |  CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(c.n_multi, 0) AS BIGINT) AS n_multi,
         |  CAST(coalesce(c.top_rrf_scaled, 0) AS BIGINT) AS top_rrf_scaled,
         |  CAST(coalesce(d.n_ret, 0) AS BIGINT) AS n_retrieved,
         |  round(coalesce(d.dcg_raw, 0.0), 4) AS dcg,
         |  round(i.idcg_raw, 4) AS idcg,
         |  CASE WHEN i.idcg_raw > 0 THEN
         |    round(coalesce(d.dcg_raw, 0.0) / i.idcg_raw, 4) END AS ndcg
         |FROM qs
         |LEFT JOIN cands c ON c.q_id = qs.q_id
         |LEFT JOIN fdcg d ON d.q_id = qs.q_id
         |JOIN idcg i ON i.q_id = qs.q_id
         |ORDER BY qs.q_id""".stripMargin,

    // Same two-word sign packing; popcount(xor) distances are pure
    // integers on both engines.
    "sim_knn_hamming" ->
      """WITH u AS (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |codes AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN pos <= 32 AND v > 0
        |      THEN (CAST(1 AS BIGINT) << (pos - 1)) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(sum(CASE WHEN pos > 32 AND v > 0
        |      THEN (CAST(1 AS BIGINT) << (pos - 33)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM u GROUP BY vec_id),
        |scored AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    CAST(bit_count(xor(q.lo, n.lo)) + bit_count(xor(q.hi, n.hi))
        |      AS BIGINT) AS hdist
        |  FROM codes q JOIN codes n
        |    ON q.vec_id < 10 AND n.vec_id <> q.vec_id)
        |SELECT q_id, n_id, hdist, rk FROM (
        |  SELECT q_id, n_id, hdist,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY hdist, n_id)
        |      AS BIGINT) AS rk
        |  FROM scored) WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // Exact-cosine truth (the sim_knn oracle) left-joined by the
    // sign-bit Hamming top-5 (the sim_knn_hamming oracle).
    "sim_recall_hamming" ->
      s"""WITH uq AS (${unnested("q", "vec_id < 10")}),
         |un AS (${unnested("n", "true")}),
         |norms AS ($NormsSql),
         |bscored AS (
         |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM bscored) WHERE rk <= 5),
         |uall AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |hcodes AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN pos <= 32 AND v > 0
         |      THEN (CAST(1 AS BIGINT) << (pos - 1)) ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN pos > 32 AND v > 0
         |      THEN (CAST(1 AS BIGINT) << (pos - 33)) ELSE 0 END) AS BIGINT) AS hi
         |  FROM uall GROUP BY vec_id),
         |hscored AS (
         |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
         |    CAST(bit_count(xor(q.lo, n.lo)) + bit_count(xor(q.hi, n.hi))
         |      AS BIGINT) AS hdist
         |  FROM hcodes q JOIN hcodes n
         |    ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |ham AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY hdist, n_id) AS rk
         |  FROM hscored) WHERE rk <= 5)
         |SELECT t.q_id, count(*) AS n_truth, count(h.n_id) AS n_hits,
         |  round(CAST(count(h.n_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM truth t LEFT JOIN ham h ON h.q_id = t.q_id AND h.n_id = t.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,

    // Full-dim truth replicates the sim_knn oracle; truncated legs
    // score the integer-grid PREFIX (pos <= m) with the same ranks.
    "embed_matryoshka_eval" ->
      s"""WITH uq AS (${unnested("q", "vec_id < 10")}),
         |un AS (${unnested("n", "true")}),
         |norms AS ($NormsSql),
         |scored AS (
         |  SELECT q_id, n_id, round(sum(uq.v * un.v) / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM uq JOIN un ON uq.pos = un.pos AND uq.q_id <> un.n_id
         |  JOIN norms nq ON nq.vec_id = uq.q_id
         |  JOIN norms nn ON nn.vec_id = un.n_id
         |  GROUP BY q_id, n_id, nq.nrm, nn.nrm),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
         |  FROM scored) WHERE rk <= 5),
         |iu AS (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000.0) AS DOUBLE) AS w
         |  FROM (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)),
         |ms AS (SELECT CAST(unnest([8, 16, 32]) AS BIGINT) AS m),
         |tn AS (SELECT m, vec_id, sqrt(sum(w * w)) AS tnrm
         |  FROM iu, ms WHERE pos <= m GROUP BY m, vec_id),
         |tdots AS (
         |  SELECT nx.m, x.vec_id AS t_q, y.vec_id AS t_n, sum(x.w * y.w) AS dp
         |  FROM ms nx
         |  JOIN iu x ON x.pos <= nx.m
         |  JOIN iu y ON y.pos = x.pos AND y.vec_id <> x.vec_id
         |  WHERE x.vec_id < 10
         |  GROUP BY nx.m, x.vec_id, y.vec_id),
         |tknn AS (SELECT m, t_q, t_n FROM (
         |  SELECT td.m, td.t_q, td.t_n,
         |    row_number() OVER (PARTITION BY td.m, td.t_q
         |      ORDER BY round(td.dp / (a.tnrm * b.tnrm), 4) DESC, td.t_n) AS rk
         |  FROM tdots td
         |  JOIN tn a ON a.m = td.m AND a.vec_id = td.t_q
         |  JOIN tn b ON b.m = td.m AND b.vec_id = td.t_n) WHERE rk <= 5)
         |SELECT m AS m_dims, q_id, count(*) AS n_truth,
         |  count(t_q) AS n_hits,
         |  round(CAST(count(t_q) AS DOUBLE) / count(*), 4) AS recall
         |FROM (SELECT ms.m, t.q_id, t.n_id, k.t_q
         |      FROM ms CROSS JOIN truth t
         |      LEFT JOIN tknn k ON k.m = ms.m AND k.t_q = t.q_id
         |        AND k.t_n = t.n_id)
         |GROUP BY m, q_id ORDER BY m_dims, q_id""".stripMargin,

    // Unrolled k=3 greedy MMR, identical argmax tie-breaks
    // (score DESC, vec_id ASC) and the same fixed-order score
    // expression over rounded integer-grid cosines.
    "sim_mmr_diversify" ->
      s"""WITH u AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |iu AS (SELECT vec_id, label, pos,
         |  CAST(floor(v * 1000000.0) AS DOUBLE) AS w FROM u),
         |inorm AS (SELECT vec_id, sqrt(sum(w * w)) AS inrm FROM iu GROUP BY vec_id),
         |cent AS (SELECT label, pos,
         |  CAST(sum(CAST(w AS BIGINT)) AS DOUBLE) / count(*) AS c
         |  FROM iu GROUP BY label, pos),
         |cnorm AS (SELECT label, sqrt(sum(c * c)) AS cnrm FROM cent GROUP BY label),
         |rel AS (
         |  SELECT iu.vec_id, iu.label,
         |    round(sum(iu.w * ce.c) / (n.inrm * cn.cnrm), 4) AS rel
         |  FROM iu JOIN cent ce ON ce.label = iu.label AND ce.pos = iu.pos
         |  JOIN inorm n ON n.vec_id = iu.vec_id
         |  JOIN cnorm cn ON cn.label = iu.label
         |  GROUP BY iu.vec_id, iu.label, n.inrm, cn.cnrm),
         |cand AS (SELECT vec_id, label, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY rel DESC, vec_id) AS rk FROM rel) WHERE rk <= 6),
         |sims AS (
         |  SELECT a.label, a.vec_id AS i_id, b.vec_id AS j_id,
         |    round(sum(x.w * y.w) / (na.inrm * nb.inrm), 4) AS sim
         |  FROM cand a JOIN cand b ON a.label = b.label AND a.vec_id <> b.vec_id
         |  JOIN iu x ON x.vec_id = a.vec_id
         |  JOIN iu y ON y.vec_id = b.vec_id AND y.pos = x.pos
         |  JOIN inorm na ON na.vec_id = a.vec_id
         |  JOIN inorm nb ON nb.vec_id = b.vec_id
         |  GROUP BY a.label, a.vec_id, b.vec_id, na.inrm, nb.inrm),
         |candi AS (SELECT label, vec_id,
         |  CAST(round(rel * 10000) AS BIGINT) AS rel_e4 FROM cand),
         |simsi AS (SELECT label, i_id, j_id,
         |  CAST(round(sim * 10000) AS BIGINT) AS sim_e4 FROM sims),
         |s1 AS (SELECT label, vec_id AS s1, 7 * rel_e4 AS sc1 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY rel_e4 DESC, vec_id) AS rn FROM candi) WHERE rn = 1),
         |r2 AS (
         |  SELECT c.label, c.vec_id, c.rel_e4, s1.s1, sm.sim_e4 AS m1,
         |    7 * c.rel_e4 - 3 * sm.sim_e4 AS score
         |  FROM candi c JOIN s1 ON s1.label = c.label AND c.vec_id <> s1.s1
         |  JOIN simsi sm ON sm.label = c.label AND sm.i_id = c.vec_id
         |    AND sm.j_id = s1.s1),
         |s2 AS (SELECT label, vec_id AS s2, score AS sc2 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY score DESC, vec_id) AS rn FROM r2) WHERE rn = 1),
         |r3 AS (
         |  SELECT r2.label, r2.vec_id,
         |    7 * r2.rel_e4 - 3 * greatest(r2.m1, sm.sim_e4) AS score
         |  FROM r2 JOIN s2 ON s2.label = r2.label AND r2.vec_id <> s2.s2
         |  JOIN simsi sm ON sm.label = r2.label AND sm.i_id = r2.vec_id
         |    AND sm.j_id = s2.s2),
         |s3 AS (SELECT label, vec_id AS s3, score AS sc3 FROM (
         |  SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY score DESC, vec_id) AS rn FROM r3) WHERE rn = 1)
         |SELECT label, CAST(1 AS BIGINT) AS pick, s1 AS vec_id,
         |  CAST(sc1 AS BIGINT) AS mmr_score_e5 FROM s1
         |UNION ALL
         |SELECT label, CAST(2 AS BIGINT), s2, CAST(sc2 AS BIGINT) FROM s2
         |UNION ALL
         |SELECT label, CAST(3 AS BIGINT), s3, CAST(sc3 AS BIGINT) FROM s3
         |ORDER BY label, pick""".stripMargin,

    // Same trained C=16 Lloyd chain as sim_knn_ivf; within-cell pairs
    // on the exact ⌊v·1e6⌋ integer grid; keep-first drop rule.
    "dedup_semdedup" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 16),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |assign AS (${kmAssignSql("c2")}),
         |${subSplitSql("assign", "true", "s")},
         |iu AS (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000.0) AS DOUBLE) AS w FROM u),
         |inorm AS (SELECT vec_id, sqrt(sum(w * w)) AS inrm FROM iu GROUP BY vec_id),
         |pairs AS (
         |  SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM ssub a JOIN ssub b ON a.cell = b.cell AND a.sub = b.sub
         |    AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT p.cell, p.a_id, p.b_id, sum(x.w * y.w) AS dp
         |  FROM pairs p JOIN iu x ON x.vec_id = p.a_id
         |  JOIN iu y ON y.vec_id = p.b_id AND y.pos = x.pos
         |  GROUP BY 1, 2, 3),
         |dups AS (
         |  SELECT d.cell, d.a_id, d.b_id FROM dots d
         |  JOIN inorm na ON na.vec_id = d.a_id
         |  JOIN inorm nb ON nb.vec_id = d.b_id
         |  WHERE round(d.dp / (na.inrm * nb.inrm), 4) >= 0.45),
         |mem AS (SELECT cell, count(*) AS n_members FROM assign GROUP BY cell),
         |pc AS (SELECT cell, count(*) AS n_dup_pairs FROM dups GROUP BY cell),
         |dc AS (SELECT cell, count(*) AS n_dropped
         |  FROM (SELECT DISTINCT cell, b_id FROM dups) GROUP BY cell)
         |SELECT m.cell, m.n_members,
         |  CAST(coalesce(pc.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
         |  CAST(coalesce(dc.n_dropped, 0) AS BIGINT) AS n_dropped,
         |  m.n_members - CAST(coalesce(dc.n_dropped, 0) AS BIGINT) AS n_kept
         |FROM mem m LEFT JOIN pc ON pc.cell = m.cell
         |LEFT JOIN dc ON dc.cell = m.cell
         |ORDER BY m.cell""".stripMargin,

    // Unrolled greedy farthest-point chain on the integer grid; seed
    // vec_id 0; pick t = frontier argmax after t-1 updates.
    "sample_kcenter" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |iu AS (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000.0) AS DOUBLE) AS w FROM u),
         |sdot AS (SELECT vec_id, sum(w * w) AS sdot FROM iu GROUP BY vec_id),
         |m1 AS (
         |  SELECT x.vec_id, sx.sdot + sc.sdot - 2 * sum(x.w * y.w) AS nd
         |  FROM iu x
         |  JOIN iu y ON y.vec_id = 0 AND y.pos = x.pos
         |  JOIN sdot sx ON sx.vec_id = x.vec_id
         |  JOIN sdot sc ON sc.vec_id = 0
         |  GROUP BY x.vec_id, sx.sdot, sc.sdot),
         |p2 AS (SELECT vec_id, nd FROM m1 ORDER BY nd DESC, vec_id LIMIT 1),
         |${(2 to 7).map(kcenterRoundSql).mkString(",\n")}
         |SELECT CAST(1 AS BIGINT) AS pick, CAST(0 AS BIGINT) AS vec_id,
         |  CAST(0 AS BIGINT) AS d2
         |${(2 to 8).map(t =>
            s"UNION ALL SELECT CAST($t AS BIGINT), vec_id, CAST(nd AS BIGINT) FROM p$t")
            .mkString("\n")}
         |ORDER BY pick""".stripMargin,

    // Old-side-trained Lloyd chain (init = 8 lowest old ids, updates
    // over old vectors only), both sides assigned, new×old within-cell
    // pairs on the integer grid, per-label ingest ledger.
    "dedup_incremental_embedding" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |uo AS (SELECT * FROM u WHERE vec_id % 7 <> 3),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u
         |       WHERE vec_id < 9 AND vec_id % 7 <> 3),
         |a1 AS (${kmAssignSql("c0", u = "uo")}),
         |c1 AS (${kmUpdateSql("a1", u = "uo")}),
         |a2 AS (${kmAssignSql("c1", u = "uo")}),
         |c2 AS (${kmUpdateSql("a2", u = "uo")}),
         |assign AS (${kmAssignSql("c2")}),
         |${subSplitSql("assign", "vec_id % 7 <> 3", "s")},
         |iu AS (SELECT vec_id, pos,
         |  CAST(floor(v * 1000000.0) AS DOUBLE) AS w FROM u),
         |inorm AS (SELECT vec_id, sqrt(sum(w * w)) AS inrm FROM iu GROUP BY vec_id),
         |pairs AS (
         |  SELECT n.vec_id AS n_id, o.vec_id AS o_id
         |  FROM ssub n JOIN ssub o ON n.cell = o.cell AND n.sub = o.sub
         |  WHERE n.vec_id % 7 = 3 AND o.vec_id % 7 <> 3),
         |dots AS (
         |  SELECT p.n_id, p.o_id, sum(x.w * y.w) AS dp
         |  FROM pairs p JOIN iu x ON x.vec_id = p.n_id
         |  JOIN iu y ON y.vec_id = p.o_id AND y.pos = x.pos
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT DISTINCT d.n_id FROM dots d
         |  JOIN inorm na ON na.vec_id = d.n_id
         |  JOIN inorm nb ON nb.vec_id = d.o_id
         |  WHERE round(d.dp / (na.inrm * nb.inrm), 4) >= 0.45)
         |SELECT CAST(e.label AS BIGINT) AS label, count(*) AS n_new,
         |  count(dup.n_id) AS n_dup_old,
         |  count(*) - count(dup.n_id) AS n_kept
         |FROM embeddings e LEFT JOIN dup ON dup.n_id = e.vec_id
         |WHERE e.vec_id % 7 = 3
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sim_knn_ivf" ->
      s"""WITH u AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings
         |),
         |norms AS ($NormsSql),
         |c0 AS (SELECT vec_id AS cell, pos, v AS c FROM u WHERE vec_id < 16),
         |a1 AS (${kmAssignSql("c0")}),
         |c1 AS (${kmUpdateSql("a1")}),
         |a2 AS (${kmAssignSql("c1")}),
         |c2 AS (${kmUpdateSql("a2")}),
         |assign AS (${kmAssignSql("c2")}),
         |qtop AS (${kmAssignSql("c2", topn = 4)}),
         |pairs AS (
         |  SELECT qa.vec_id AS q_id, nb.cell, nb.vec_id AS n_id
         |  FROM qtop qa JOIN assign nb ON qa.cell = nb.cell
         |    AND qa.vec_id < 10 AND nb.vec_id <> qa.vec_id
         |),
         |dots AS (
         |  SELECT p.q_id, p.cell, p.n_id, sum(a.v * b.v) AS dp
         |  FROM pairs p JOIN u a ON a.vec_id = p.q_id
         |  JOIN u b ON b.vec_id = p.n_id AND b.pos = a.pos
         |  GROUP BY p.q_id, p.cell, p.n_id
         |),
         |scored AS (
         |  SELECT q_id, cell, n_id, round(dp / (nq.nrm * nn.nrm), 4) AS cos
         |  FROM dots JOIN norms nq ON nq.vec_id = q_id
         |  JOIN norms nn ON nn.vec_id = n_id
         |)
         |SELECT q_id, cell, n_id, cos, rk FROM (
         |  SELECT q_id, cell, n_id, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
         |  FROM scored
         |) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    // Arithmetic prediction of the real javax.imageio decode: the PNG
    // round-trip is lossless, so pixel g survives exactly; the BT.601
    // fold and bucket floor are the IDENTICAL left-assoc double ops the
    // codec runs, and the float32 histogram inversion on the Spark side
    // recovers exact integer counts — see the query's scaladoc.
    "multimodal_decode_hist" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id < 64),
        |px AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
        |pxy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM px),
        |bkt AS (
        |  SELECT doc_id,
        |    least(7, CAST(floor(
        |      (0.299 * g + 0.587 * g + 0.114 * g) / 256.0 * 8) AS BIGINT)) AS bucket
        |  FROM (SELECT doc_id,
        |          CAST((doc_id * 7 + x * 3 + y * 5) % 256 AS DOUBLE) AS g
        |        FROM pxy)),
        |cnt AS (SELECT doc_id, bucket, count(*) AS n_px FROM bkt GROUP BY 1, 2),
        |spine AS (SELECT doc_id, unnest(range(0, 8)) AS bucket FROM dims)
        |SELECT s.doc_id, 'png' AS format,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  s.bucket, CAST(coalesce(c.n_px, 0) AS BIGINT) AS n_px
        |FROM spine s
        |JOIN dims d USING (doc_id)
        |LEFT JOIN cnt c ON c.doc_id = s.doc_id AND c.bucket = s.bucket
        |ORDER BY s.doc_id, s.bucket""".stripMargin,

    // Arithmetic prediction of the real per-frame PNG decode: same
    // sampled-frame spine as the Spark sampler (every 2nd of k slots),
    // same left-assoc BT.601 fold and bucket floor as decode_hist.
    "multimodal_video_decode" ->
      """WITH docs AS (
        |  SELECT doc_id, 4 + doc_id % 3 AS k,
        |    8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
        |  FROM documents
        |  WHERE doc_id < (SELECT least(256, greatest(32, count(*) // 8))
        |                  FROM documents)),
        |frm AS (SELECT doc_id, w, h, unnest(range(0, k)) AS f FROM docs),
        |sampled AS (SELECT * FROM frm WHERE f % 2 = 0),
        |px AS (SELECT doc_id, f, w, h, unnest(range(0, w)) AS x FROM sampled),
        |pxy AS (SELECT doc_id, f, w, h, x, unnest(range(0, h)) AS y FROM px),
        |bkt AS (
        |  SELECT doc_id, f,
        |    least(7, CAST(floor(
        |      (0.299 * g + 0.587 * g + 0.114 * g) / 256.0 * 8) AS BIGINT)) AS bucket
        |  FROM (SELECT doc_id, f,
        |          CAST((doc_id * 7 + f * 11 + x * 3 + y * 5) % 256 AS DOUBLE) AS g
        |        FROM pxy)),
        |cnt AS (SELECT doc_id, f, bucket, count(*) AS n_px
        |        FROM bkt GROUP BY 1, 2, 3),
        |spine AS (SELECT doc_id, f, unnest(range(0, 8)) AS bucket FROM sampled)
        |SELECT s.doc_id, CAST(s.f AS BIGINT) AS frame_no, 'png' AS format,
        |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
        |  s.bucket, CAST(coalesce(c.n_px, 0) AS BIGINT) AS n_px
        |FROM spine s
        |JOIN docs d USING (doc_id)
        |LEFT JOIN cnt c ON c.doc_id = s.doc_id AND c.f = s.f
        |  AND c.bucket = s.bucket
        |ORDER BY s.doc_id, frame_no, s.bucket""".stripMargin,

    // Arithmetic prediction of the real javax.sound.sampled decode:
    // 16-bit PCM is lossless, so the synthesized integer samples
    // survive the WAV round trip exactly — every stat is integer math.
    // sum(v*v) is HUGEINT in DuckDB (the multimodal_batch_plan lesson);
    // CAST pins it to BIGINT like the Spark side's Long.
    "multimodal_audio_stats" ->
      """WITH docs AS (
        |  SELECT doc_id, 800 + (doc_id % 5) * 160 AS n
        |  FROM documents WHERE doc_id < 48),
        |idx AS (SELECT doc_id, unnest(range(0, n)) AS i FROM docs),
        |smp AS (
        |  SELECT doc_id, i // 256 AS win_no,
        |    (doc_id * 31 + i * 7) % 2001 - 1000 AS v
        |  FROM idx)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(win_no AS BIGINT) AS win_no,
        |  count(*) AS n_samples, CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(v)) AS BIGINT) AS peak_abs
        |FROM smp GROUP BY doc_id, win_no
        |ORDER BY doc_id, win_no""".stripMargin,

    // Pure-arithmetic frame prediction: payload byte i is
    // (doc·13 + i·17) mod 251, frames are 32-byte windows (partial
    // tail included) sampled every 3rd; poly fold order matches the
    // Spark side's left-to-right scan.
    "multimodal_frame_census" ->
      """WITH docs AS (
        |  SELECT doc_id, 160 + (doc_id % 5) * 48 AS np
        |  FROM documents WHERE doc_id < 40),
        |frames AS (
        |  SELECT doc_id, np, unnest(range(0, (np + 31) // 32)) AS k FROM docs),
        |sampled AS (
        |  SELECT doc_id, k, k * 32 AS lo, least(np, k * 32 + 32) AS hi
        |  FROM frames WHERE k % 3 = 0)
        |SELECT doc_id, CAST(k AS BIGINT) AS frame_no,
        |  CAST(hi - lo AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(lo, hi), i -> (doc_id * 13 + i * 17) % 251)),
        |    (a, b) -> a + b) AS BIGINT) AS byte_sum,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(lo, hi), i -> (doc_id * 13 + i * 17) % 251)),
        |    (a, b) -> (a * 31 + b) % 1000003) AS BIGINT) AS poly_hash
        |FROM sampled ORDER BY doc_id, frame_no""".stripMargin,

    "multimodal_join" ->
      """SELECT doc_id, lang, source, CAST(label AS BIGINT) AS label,
        |  CAST(len(embedding) AS BIGINT) AS dim, n_chars
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,

    "embed_stats" ->
      """SELECT CAST(label AS BIGINT) AS label, pos, count(*) AS n,
        |  round(avg(v), 4) AS centroid, round(stddev_samp(v), 4) AS sd
        |FROM (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |) GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "agg_centroid_udaf" ->
      """SELECT CAST(label AS BIGINT) AS label, pos, round(avg(v), 4) AS c
        |FROM (
        |  SELECT label, unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings
        |) GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "embed_norms" ->
      """SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
        |  round(avg(l2), 4) AS avg_l2, round(min(l2), 4) AS min_l2,
        |  round(max(l2), 4) AS max_l2
        |FROM (
        |  SELECT label, round(sqrt(sum(v * v)), 4) AS l2 FROM (
        |    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
        |  ) GROUP BY vec_id, label
        |) GROUP BY label ORDER BY label""".stripMargin,

    "multimodal_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "multimodal_batch_plan" ->
      """WITH blobs AS (
        |  SELECT doc_id, lang,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, lang, nb,
        |    CAST((sum(nb) OVER (PARTITION BY lang ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) - nb) // 4096 AS BIGINT) AS batch_id
        |  FROM blobs)
        |SELECT lang, batch_id, count(*) AS n_items,
        |  CAST(sum(nb) AS BIGINT) AS n_bytes, max(nb) AS max_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM packed GROUP BY 1, 2 ORDER BY lang, batch_id""".stripMargin,

    "sample_balanced_class" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |m AS (SELECT min(n) AS m FROM c),
        |r AS (
        |  SELECT label, vec_id,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000003,
        |        vec_id) AS rnk
        |  FROM embeddings)
        |SELECT label, count(*) AS n_kept,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  min(vec_id) AS id_min, max(vec_id) AS id_max
        |FROM r, m WHERE rnk <= m.m
        |GROUP BY label ORDER BY label""".stripMargin,

    // Exact per-dim integer sums per (label, half); the squared gap
    // stays exact (HUGEINT here, DECIMAL(38) Spark-side) and one
    // terminal sqrt/divide matches bit-for-bit.
    "embed_centroid_drift" ->
      """WITH base AS (
        |  SELECT vec_id, label, vec_id % 2 AS half,
        |    unnest(range(1, len(embedding) + 1)) AS pos,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS iv
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, half, pos, CAST(sum(iv) AS BIGINT) AS s
        |  FROM base GROUP BY 1, 2, 3),
        |cnts AS (
        |  SELECT label, vec_id % 2 AS half, count(*) AS n
        |  FROM embeddings GROUP BY 1, 2),
        |diff AS (
        |  SELECT a.label, na.n AS n_a, nb.n AS n_b,
        |    (a.s * nb.n - b.s * na.n) AS dd
        |  FROM sums a
        |  JOIN sums b ON b.label = a.label AND b.pos = a.pos AND b.half = 1
        |  JOIN cnts na ON na.label = a.label AND na.half = 0
        |  JOIN cnts nb ON nb.label = a.label AND nb.half = 1
        |  WHERE a.half = 0)
        |SELECT label, any_value(n_a) AS n_a, any_value(n_b) AS n_b,
        |  CASE WHEN any_value(n_a) = 0 OR any_value(n_b) = 0 THEN NULL
        |    ELSE round(sqrt(CAST(sum(dd * dd) AS DOUBLE))
        |      / CAST(any_value(n_a) * any_value(n_b) AS DOUBLE)
        |      / 1000000.0, 4)
        |  END AS drift
        |FROM diff GROUP BY label ORDER BY label""".stripMargin,

    // Same bucket-gated exact-integer-grid pair set as
    // sim_range_search; labels join on both endpoints and the share
    // is one division from exact counts.
    "sim_label_homophily" ->
      s"""WITH buckets AS ($BucketsSql),
         |ui AS (
         |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS pos,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS vi
         |  FROM embeddings),
         |n2 AS (SELECT vec_id, CAST(sum(vi * vi) AS BIGINT) AS n2
         |       FROM ui GROUP BY vec_id),
         |pairs AS (
         |  SELECT ua.vec_id AS a_id, ub.vec_id AS b_id
         |  FROM ui ua JOIN ui ub ON ua.pos = ub.pos AND ua.vec_id < ub.vec_id
         |  JOIN buckets ba ON ba.vec_id = ua.vec_id
         |  JOIN buckets bb ON bb.vec_id = ub.vec_id AND ba.bucket = bb.bucket
         |  JOIN n2 na ON na.vec_id = ua.vec_id
         |  JOIN n2 nb ON nb.vec_id = ub.vec_id
         |  GROUP BY ua.vec_id, ub.vec_id, na.n2, nb.n2
         |  HAVING round(CAST(CAST(sum(ua.vi * ub.vi) AS BIGINT) AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 4)
         |    >= 0.3),
         |lab AS (SELECT vec_id, label FROM embeddings),
         |pl AS (
         |  SELECT la.label AS label, lb.label AS other
         |  FROM pairs JOIN lab la ON la.vec_id = a_id
         |  JOIN lab lb ON lb.vec_id = b_id),
         |sym AS (SELECT label, other FROM pl
         |        UNION ALL SELECT other, label FROM pl)
         |SELECT label, n_pairs, n_same,
         |  round(CAST(n_same AS DOUBLE) / CAST(n_pairs AS DOUBLE), 4)
         |    AS homophily
         |FROM (SELECT label, count(*) AS n_pairs,
         |        count(CASE WHEN label = other THEN 1 END) AS n_same
         |      FROM sym GROUP BY 1)
         |ORDER BY label""".stripMargin,
  )
}
