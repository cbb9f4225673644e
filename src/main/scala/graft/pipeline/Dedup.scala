package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SessionBridge

import TextOps._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All operators are pure
  * DataFrame plans (groupBy/join/window — no driver loops), so they scale
  * with the shuffle: exact dedup is one hash-aggregate; MinHash/LSH is the
  * canonical shingle→signature→band→bucket-join pipeline whose cost is
  * O(docs·shingles) + a bucket join that only pairs near-duplicates —
  * the 100 TB path. Pairwise n-gram Jaccard is the small-scale oracle used
  * to validate the sketches, quadratic by construction.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct text, keeping the
    * smallest id (deterministic winner), with the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The corpus with each document's DISTINCT shingle set staged as an
    * in-row `_sh` array column — the shared substrate of the minhash
    * family. Two deliberate properties:
    *  - `array_distinct` dedupes within the row, so no corpus-wide
    *    `.distinct()` exchange is ever needed (guide §2.4 — per-document
    *    shingle sets are bounded by document length);
    *  - the token array is MATERIALIZED as its own projection column
    *    before shingling: [[TextOps.shingles]] references its input ~5×
    *    (zip/slice/size), and higher-order functions evaluate outside
    *    codegen CSE, so an inline `tokens(text)` would re-tokenize the
    *    document per reference (guide §1.2 — fix the per-task work).
    *    Staged projections do not collapse (the producer is expensive and
    *    multiply-referenced), so each stage evaluates once per row.
    */
  private def withShingleSet(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .select(col("doc_id"), array_distinct(shingles(col("_t"), n)).as("_sh"))

  /** (doc_id, shingle) pairs, distinct per document. The distinct is
    * computed in-row ([[withShingleSet]]) before the explode — same pair
    * set, one full corpus shuffle less than explode→`.distinct()`.
    */
  def docShingles(docs: DataFrame, n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    withShingleSet(docs, n, idCol, textCol)
      .select(col("doc_id"), explode(col("_sh")).as("sh"))

  /** Test-set CONTAMINATION scan: per corpus document, how many of its
    * distinct `n`-grams also occur in the evaluation set — the overlap
    * check that keeps benchmark data out of a training corpus (the
    * published recipe: flag training documents sharing ≥1 long n-gram,
    * typically 8–13 tokens, with any eval document).
    *
    * Scale shape: the EVAL side is small by nature (benchmarks), so its
    * distinct n-gram set is broadcast; the corpus streams ONCE through an
    * in-scan shingle explode + broadcast hash join — no corpus-side
    * shuffle except the final per-doc count. Cost O(corpus tokens), never
    * corpus×eval.
    */
  def contamination(corpus: DataFrame, evalSet: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      evalTextCol: String = "text"): DataFrame = {
    val evalGrams = broadcast(
      evalSet.select(tokens(col(evalTextCol)).as("_t"))
        .select(explode(shingles(col("_t"), n)).as("sh")).distinct())
    docShingles(corpus, n, idCol, textCol)
      .join(evalGrams, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("contaminated_ngrams"))
  }

  /** The corpus with every contaminated document removed (anti-join against
    * [[contamination]]) — the decontaminated training set.
    */
  def decontaminated(corpus: DataFrame, evalSet: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      evalTextCol: String = "text"): DataFrame =
    corpus.join(contamination(corpus, evalSet, n, idCol, textCol, evalTextCol)
        .withColumnRenamed("doc_id", idCol),
      Seq(idCol), "left_anti")

  /** Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    * Quadratic in co-shingled docs — the validation oracle for the sketches,
    * not the scale path (use [[minhashCandidates]] at scale).
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = docShingles(docs, n)
    // per-doc shingle-set size is a pure row function — no aggregate needed
    // (docs with zero shingles can never appear in `inter`, so leaving them
    // in `sizes` changes nothing)
    val sizes = withShingleSet(docs, n)
      .select(col("doc_id"), size(col("_sh")).cast("long").as("n_sh"))
    val inter = sh.as("x").join(sh.as("y"), Seq("sh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Per-document minhash lane minimum: lexicographic min of
    * md5(j ':' shingle) over the in-row shingle set — `array_min` over a
    * `transform`, entirely narrow. The lambda references only its own
    * argument (see [[TextOps.shingles]] on capture re-evaluation), and the
    * shingle array arrives as a materialized column so it is computed once
    * per row however many lanes read it.
    */
  private def minhashLane(shCol: Column, j: Int): Column =
    array_min(transform(shCol, s => md5(concat(lit(s"$j:"), s))))

  /** MinHash signatures: k per-document minima of md5(j || ':' || shingle)
    * over the shingle set — lexicographic min over hex strings, which any
    * engine reproduces bit-identically (no seeded JVM hash).
    * Output: (doc_id, j, mh).
    *
    * All k lanes are IN-ROW array reductions over the per-document shingle
    * set — zero exchanges where the earlier explode→distinct→groupBy shape
    * paid two corpus-wide shuffles for the identical result (guide §2.4);
    * the md5 count is unchanged (it defines the signature). Documents with
    * no shingles produce no rows, exactly as the aggregate formulation.
    */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val lanes = (0 until k).map(j => minhashLane(col("_sh"), j).as(s"_mh$j"))
    withShingleSet(docs, n)
      .where(size(col("_sh")) > 0)
      .select(col("doc_id") +: lanes: _*)
      .select(col("doc_id"),
        posexplode(array((0 until k).map(j => col(s"_mh$j")): _*)).as(Seq("j", "mh")))
  }

  /** LSH banding: k = bands × rowsPerBand; docs sharing a full band signature
    * become candidate pairs. Returns distinct (a, b) with a < b.
    * The band bucket join touches only colliding docs — near-linear at scale.
    */
  def minhashCandidates(docs: DataFrame, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val sig = bandSignatures(docs, n, bands, rowsPerBand)
    sig.as("x").join(sig.as("y"), Seq("band", "band_sig"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Band signatures of a corpus — the STORED side of incremental dedup
    * (persist this alongside the corpus; it is O(docs × bands) small).
    *
    * Computed IN-ROW like [[minhashSignatures]]: each band's signature is
    * the sorted concat of its lane minima, assembled per document with no
    * exchange (the earlier groupBy-band formulation re-shuffled the lane
    * rows a third time for the identical strings).
    */
  def bandSignatures(docs: DataFrame, n: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 2): DataFrame = {
    val bandSigs = (0 until bands).map { b =>
      val lanes = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => minhashLane(col("_sh"), j))
      concat_ws(",", array_sort(array(lanes: _*)))
    }
    withShingleSet(docs, n)
      .where(size(col("_sh")) > 0)
      .select(col("doc_id"),
        posexplode(array(bandSigs: _*)).as(Seq("band", "band_sig")))
  }

  /** INCREMENTAL near-dup candidates: which NEW documents collide with the
    * EXISTING corpus — the continuous-ingest shape of LSH dedup. Cost is
    * O(new × bands) signature computation plus a band-bucket join against
    * the stored signature table; the corpus is never re-shingled and no
    * corpus×corpus pair is ever formed. Returns (new_id, corpus_id)
    * distinct pairs; anti-join the new batch on `new_id` to admit only
    * novel documents.
    */
  def incrementalCandidates(newDocs: DataFrame, corpusSignatures: DataFrame,
      n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val newSig = bandSignatures(newDocs, n, bands, rowsPerBand)
    newSig.as("x").join(corpusSignatures.as("y"), Seq("band", "band_sig"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
  }

  /** 32-bit SimHash over whitespace tokens: bit b is the sign of
    * Σ_tokens (bit b of md5-head32(token) ? +1 : −1). Near-duplicates have
    * small Hamming distance between simhashes.
    *
    * Computed IN-ROW like the minhash substrate: the token hashes are a
    * staged array column (md5 once per token) and each bit-sum is an
    * `aggregate` lambda over it — a per-document signature never needs an
    * exchange (guide §2.4; the earlier explode→32-column groupBy shuffled
    * a combiner row per document for the identical bits). Documents with
    * no tokens produce no rows, exactly as the aggregate formulation.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bitSums = (0 until 32).map { b =>
      aggregate(col("_h"), lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"_b$b")
    }
    val toBits = (0 until 32).map(b =>
      when(col(s"_b$b") >= 0, lit(1L << b)).otherwise(0L))
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("doc_id"), transform(col("_t"), t => md5Head32(t)).as("_h"))
      .select(col("doc_id") +: bitSums: _*)
      .select(col("doc_id"), toBits.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, BANDED like
    * LSH: the 32 bits split into `maxDist + 1` bands — by pigeonhole, any
    * pair within maxDist differing bits has at least one band with ZERO
    * differing bits, so an equi-join on (band, band value) finds every
    * qualifying pair (exactly the quadratic join's output) while only
    * comparing docs that collide on a band. Cost: a (maxDist+1)× row fan-out
    * plus a hash join on band buckets — no cartesian, no
    * BroadcastNestedLoopJoin (asserted in PlanAuditSpec).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val s = simhash(docs)
    val b = maxDist + 1
    val bounds = (0 to b).map(i => (i * 32) / b)
    val bandCols = (0 until b).map { i =>
      val lo = bounds(i)
      val width = bounds(i + 1) - lo
      struct(lit(i).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    val banded = s
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    banded.as("x").join(banded.as("y"), Seq("band", "bv"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct() // (sa, sb) are functions of (a, b) — this dedupes pairs
      .withColumn("dist", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }

  /** Embedding near-duplicates: pairs with cosine ≥ threshold. Brute force
    * (the validation baseline); the scale path is the LSH variant in
    * [[Similarity]].
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.vec
    val withNorm = emb.select(
      col(idCol).as("id"),
      col(vecCol).as("v"),
      vec.norm(col(vecCol)).as("nrm")) // codegen'd kernel, not HOF aggregate
    withNorm.as("x").join(withNorm.as("y"), col("x.id") < col("y.id"))
      .withColumn("cos", vec.dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("x.id").as("a"), col("y.id").as("b"), round(col("cos"), 4).as("cos"))
  }

  /** Deduplicated corpus via exact + minhash candidates: drop every doc that
    * is the larger id of a candidate pair or a non-keeper exact duplicate.
    */
  def dedupedCorpus(docs: DataFrame, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val exactDrop = docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"))
      .join(docs.withColumn("h", md5(col("text"))), Seq("h"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    val nearDrop = minhashCandidates(docs, n, bands, rowsPerBand).select(col("b").as("doc_id"))
    docs.join(exactDrop.union(nearDrop).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Connected components over candidate pairs: the transitive closure that
    * turns pairwise near-dup hits into duplicate CLUSTERS (a~b and b~c must
    * collapse to ONE survivor even when (a,c) was never emitted — pair-based
    * dropping alone can't see that).
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (1) every vertex takes the min label over itself and its neighbors
    * (one join + one aggregate), then (2) label = label(label) (one self
    * join) — the doubling step that makes convergence O(log diameter)
    * rounds instead of O(diameter). All steps are hash joins/aggregates on
    * the edge list — no driver-side graph, no cartesian — and each round is
    * `localCheckpoint`ed so the plan does not grow with iterations. Dedup
    * components are near-dup clusters (tiny diameter), so this converges in
    * 2–3 rounds; the loop stops as soon as no label changes.
    *
    * Output: (id, label) for every vertex that appears in `pairs`, where
    * label = the component's minimum id (deterministic canonical winner).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIters: Int = 16,
      /** RELIABLE checkpoint dir: when set, each round materializes to this
        * (HDFS-visible) directory as a parquet write + re-read — the same
        * lineage truncation and fault tolerance as `df.checkpoint()` without
        * touching the SparkContext-GLOBAL checkpoint directory (flipping
        * `sc.setCheckpointDir` would race any concurrent job that also
        * checkpoints, and could never be restored to unset). Without it,
        * `localCheckpoint()` stores blocks on executors — an executor lost
        * mid-iteration kills the job because the truncated lineage cannot
        * be recomputed; at 100 TB-scale iteration times that is a
        * reliability cliff one extra write per round avoids.
        * Rounds ping-pong between two subdirectories, each deleted just
        * before reuse, so on-disk state is bounded at ≤2 label-set copies
        * instead of one per round held until application exit. The
        * returned frame reads from `<dir>/cc-*`, so delete the dir only
        * when done with the result.
        */
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    var round = 0
    val e = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
      .union(pairs.select(col(bCol).as("s"), col(aCol).as("d")))
      .distinct()
      .persist()
    // size the iteration to the MEASURED graph (guide §2 — scale-adaptive
    // partitioning, not a constant): the count also materializes the
    // persisted edge list so every round reads cached blocks.
    //  - small graphs (the common near-dup case: candidate pairs are rare)
    //    broadcast the label side, so each round's joins are narrow map
    //    stages instead of three full shuffle joins;
    //  - the per-round label materialization and the one remaining shuffle
    //    (the neighbor-min aggregate) run at a partition count derived from
    //    the edge count, capped at the session's shuffle parallelism — a
    //    2^31-edge graph keeps today's plan, a 10^3-edge graph stops paying
    //    32 sorted partitions per round for a kilobyte of labels.
    val nE = e.count()
    val sessParts = spark.sessionState.conf.numShufflePartitions
    val p = math.min(math.max(nE / 1000000L + 1L, 1L), sessParts.toLong).toInt
    val small = nE <= 2000000L // labels ≤ 2·nE rows — comfortably broadcastable
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    def save(df: DataFrame): DataFrame = checkpointDir match {
      case Some(dir) =>
        // the subdir being (re)written holds only the round-(k-2)
        // state, unreferenced once round k-1 materialized
        val sub = new org.apache.hadoop.fs.Path(s"$dir/cc-${round % 2}")
        sub.getFileSystem(SessionBridge.hadoopConf(spark)).delete(sub, true)
        round += 1
        df.write.parquet(sub.toString)
        spark.read.parquet(sub.toString)
      case None => df.localCheckpoint()
    }
    try {
      var labels = save(e.select(col("s").as("id")).distinct()
        .withColumn("label", col("id")).coalesce(p))
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIters) {
        val nbrMin = e.join(maybeB(labels.select(col("id").as("s"), col("label").as("sl"))), "s")
          .repartition(p, col("d"))
          .groupBy(col("d").as("id")).agg(min(col("sl")).as("nl"))
        // previous label rides along so convergence is OBSERVED on the same
        // checkpoint action — no separate join+count job per round
        val stepped = labels.join(maybeB(nbrMin), Seq("id"), "left")
          .select(col("id"), col("label").as("_prev"),
            least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        val obs = org.apache.spark.sql.Observation()
        val jumped = save(stepped
          .join(maybeB(stepped.select(col("id").as("jid"), col("label").as("jl"))),
            col("label") === col("jid"), "left")
          .select(col("id"), col("_prev"), coalesce(col("jl"), col("label")).as("label"))
          .observe(obs, sum(when(col("label") =!= col("_prev"), 1L).otherwise(0L)).as("changed"))
          .drop("_prev"))
        changed = obs.get.get("changed") match {
          case Some(n: java.lang.Number) => n.longValue
          case _ => 0L
        }
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc] iter=$iter changed=$changed nE=$nE p=$p small=$small")
        labels = jumped
        iter += 1
      }
      require(changed == 0, s"connectedComponents did not converge in $maxIters rounds")
      labels
    } finally e.unpersist()
  }

  /** Every document with its near-dup cluster id (= min doc_id of its
    * MinHash-LSH connected component; singletons are their own cluster).
    * This is the cluster-level end state of the dedup family — pick one
    * representative per cluster_id to materialize the deduped corpus.
    */
  def dedupClusters(docs: DataFrame, n: Int = 3, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val cc = connectedComponents(minhashCandidates(docs, n, bands, rowsPerBand))
    docs.select(col("doc_id"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }
}
