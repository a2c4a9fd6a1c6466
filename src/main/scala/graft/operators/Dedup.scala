package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import TextOps._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * These extend the reference's surface (which stores opaque bytes and has
  * no content operators — SURVEY.md §2.5) with the dedup family the north
  * star mandates. All variants are shuffle-conscious:
  *  - exact: one hash-groupBy (map-side partial agg on the hash key);
  *  - MinHash-LSH: signatures are one shingle-explode + one groupBy;
  *    candidate generation joins on (band, bandKey) buckets so the join
  *    fan-out is bounded by bucket sizes, never all-pairs;
  *  - SimHash: same shape with a bit-aggregation instead of min;
  *  - n-gram Jaccard: shingle-join restricted to candidate buckets or an
  *    explicit id subset.
  *
  * At 100 TB: every stage is a plain shuffle on a key with map-side
  * combine; skewed buckets (stop-shingle bands) should be handled by
  * raising `bands`/`rowsPerBand` or salting the band join — documented at
  * each call site.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id document per identical text.
    * One groupBy on the text hash — the canonical 100 TB shape (hash first,
    * so the shuffle key is 8 bytes, not the document). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.groupBy(xxhash64(col(textCol)).as("_h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .select(col("keep_id"), col("group_size"))
  }

  /** MinHash signatures: `numHashes` modular permutations over k-shingle
    * codes. Output: (id, mh0..mh{n-1}).
    *
    * Computed per-ROW by the fused [[graft.functions.MinHashSignature]]
    * expression (MIN is duplicate-insensitive and per-document, so no
    * explode and no aggregation shuffle exist at all): one narrow Project
    * over the scan, whatever the corpus size. The explode + 64-min groupBy
    * formulation this replaces materialized |doc|·|shingles| rows and one
    * hash exchange; measured 2-4× slower at sf0.1 and strictly worse at
    * 100 TB (the exchange carries every signature). Values are
    * bit-identical (same coefficients/modulus — the oracle SQL still
    * min-aggregates exploded shingles). */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    import graft.functions.GraftFunctions.minhash_signature
    df.select(col(idCol), minhash_signature(col(textCol), k, numHashes).as("_sig"))
      .where(col("_sig").isNotNull) // length < k ⇒ no shingles ⇒ no row
      .select(col(idCol) +: (0 until numHashes).map(j =>
        element_at(col("_sig"), j + 1).as(s"mh$j")): _*)
  }

  /** (id, band, bkey) banding rows — THE single definition of the LSH
    * band key, shared by the batch bucket join ([[minHashLshPairs]]) and
    * the streaming bucket registry (stream_neardup_pairs), so the two
    * surfaces cannot desynchronize. One narrow projection + explode. */
  def bandedKeys(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minHashSignatures(df, idCol, textCol, k, bands * rowsPerBand)
    val bandCols = (0 until bands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** MinHash-LSH candidate pairs: band the signature (`bands` ×
    * `rowsPerBand`), bucket-join on identical band keys, emit each unordered
    * pair once. Pair fan-out is per-bucket, never all-pairs — but a bucket
    * of B docs still emits B² pairs, and bucket sizes GROW with the corpus
    * (boilerplate dup-families share whole bands), so the clique form is
    * quadratic in dup-family size. The r13 DataScaleProbe measured it:
    * 10× the corpus → 211× the shuffle (BASELINE.md slopes table).
    *
    * `starBucketThreshold`: buckets larger than the threshold emit STAR
    * pairs — every member linked to the bucket MINIMUM id — O(B) per
    * bucket instead of O(B²). Stars and cliques have identical transitive
    * closure (every member reaches every other through the hub), so
    * CONNECTED COMPONENTS over the pairs are exactly the same; only
    * pair-level consumers that verify each candidate edge individually
    * see fewer candidates inside oversized buckets. None (default) keeps
    * the full clique semantics. */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, bands: Int = 4, rowsPerBand: Int = 4,
      starBucketThreshold: Option[Int] = None): DataFrame = {
    // No explicit cache: the bucket self-join's two sides canonicalize to
    // the same exchange, so AQE stage reuse computes the signature pipeline
    // once. (Measured: an explicit .cache() here costs 3-5× wall time in
    // materialization jobs + InMemoryRelation scans.)
    val banded = bandedKeys(df, idCol, textCol, k, bands, rowsPerBand)
    starBucketThreshold match {
      case None =>
        val l = banded.as("l")
        val r = banded.as("r")
        l.join(r, col("l.band") === col("r.band") &&
            col("l.bkey") === col("r.bkey") &&
            col(s"l.$idCol") < col(s"r.$idCol"))
          .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
          .distinct()
      case Some(thr) =>
        // bucket stats share the join's (band, bkey) exchange (AQE stage
        // reuse); small buckets keep the exact clique, oversized ones
        // collapse to hub-and-spoke around the deterministic min id
        val stats = banded.groupBy("band", "bkey")
          .agg(count(lit(1)).as("_bn"), min(col(idCol)).as("_bmin"))
        val tagged = banded.join(stats, Seq("band", "bkey"))
        val small = tagged.where(col("_bn") <= thr)
          .select(col("band"), col("bkey"), col(idCol))
        val l = small.as("l")
        val r = small.as("r")
        val clique = l.join(r, col("l.band") === col("r.band") &&
            col("l.bkey") === col("r.bkey") &&
            col(s"l.$idCol") < col(s"r.$idCol"))
          .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
        val star = tagged
          .where(col("_bn") > thr && col(idCol) > col("_bmin"))
          .select(col("_bmin").as("id_a"), col(idCol).as("id_b"))
        clique.unionByName(star).distinct()
    }
  }

  /** SimHash fingerprint (`bits` ≤ 31): per shingle hash, each bit votes
    * ±1; the fingerprint sets bits with positive vote sums. */
  def simHash(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, bits: Int = 16): DataFrame = {
    val (a, b) = hashCoeffs(1).head
    val sh = shingles(df, idCol, textCol, k)
      .withColumn("h", permHash(col("code"), a, b))
    val bitVotes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val votes = sh.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: hamming distance ≤ `maxHamming`, discovered by
    * EXACT pigeonhole bucketing — the fingerprint is split into
    * `maxHamming + 1` contiguous chunks, and any pair within the distance
    * bound must agree exactly on at least one chunk (≤ maxHamming differing
    * bits cannot touch all maxHamming+1 chunks). Candidates come from an
    * equi-join on (chunk_idx, chunk_value) — a plain hash shuffle whose
    * fan-out is per-bucket collisions, never all-pairs — and the exact
    * hamming post-filter removes false positives. Lossless: identical
    * output to the O(n²) self-join at any corpus size. Hot chunk values
    * (e.g. an all-zero nibble across boilerplate docs) behave like LSH stop
    * buckets; raise `bits` or salt the join if a bucket dominates. */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, bits: Int = 16, maxHamming: Int = 3): DataFrame =
    hammingPairs(simHash(df, idCol, textCol, k, bits), idCol, "simhash",
      bits, maxHamming)

  /** Pigeonhole hamming-ball pair discovery over an ARBITRARY precomputed
    * fingerprint column — the shared core of [[simHashPairs]] (text) and
    * perceptual-hash media dedup (mm_phash_neardup). Same exact-bucketing
    * argument: ≤ maxHamming differing bits cannot touch all maxHamming+1
    * chunks, so candidates come from an equi-join on (chunk_idx,
    * chunk_value) and the hamming post-filter is lossless. */
  def hammingPairs(fp: DataFrame, idCol: String, fpCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    val nChunks = maxHamming + 1
    require(bits >= nChunks, s"need at least $nChunks fingerprint bits")
    // chunk c covers bits [bounds(c), bounds(c+1)) — sizes differ by ≤ 1
    val bounds = (0 to nChunks).map(c => c * bits / nChunks)
    val chunkCols = (0 until nChunks).map { c =>
      val lo = bounds(c); val mask = (1L << (bounds(c + 1) - lo)) - 1
      struct(lit(c).as("ci"),
        shiftright(col(fpCol), lo).bitwiseAND(lit(mask)).as("cv"))
    }
    val banded = fp
      .select(col(idCol), col(fpCol), explode(array(chunkCols: _*)).as("c"))
      .select(col(idCol), col(fpCol), col("c.ci").as("ci"), col("c.cv").as("cv"))
    val l = banded.select(col(idCol).as("id_a"), col(fpCol).as("h_a"),
      col("ci"), col("cv"))
    val r = banded.select(col(idCol).as("id_b"), col(fpCol).as("h_b"),
      col("ci"), col("cv"))
    l.join(r, Seq("ci", "cv"))
      .where(col("id_a") < col("id_b"))
      .where(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= maxHamming)
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct() // a pair may agree on several chunks
  }

  /** Shared discovery pipeline for the THRESHOLD pair scores
    * ([[ngramJaccardPairs]], [[containmentPairs]]) — both need every
    * overlapping pair together with both set sizes, so they keep the join
    * shape: distinct shingles, optional stop-shingle filter (shingles in >
    * maxDocFreq documents carry no near-dup signal and dominate the
    * equi-join fanout; dropped BEFORE sizing so the score space is the
    * filtered one — oracles apply the identical filter), set-size agg,
    * and the id_a < id_b intersection counts. The distinct shingle set
    * feeds the doc-frequency pass, the size agg, and both self-join
    * sides; all references canonicalize to the same distinct exchange,
    * which AQE stage reuse computes once — an explicit cache measured
    * slower. Returns intersections joined with both set sizes:
    * (id_a, id_b, both, sz_a, sz_b). [[lexicalKnn]] needs neither sizes
    * nor pair rows and does not go through here. */
  private def pairOverlaps(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocFreq: Option[Int]): DataFrame = {
    val all = shingles(df, idCol, textCol, k)
    val sh = maxDocFreq match {
      case Some(maxDf) =>
        val hot = all.groupBy("code").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select("code")
        all.join(broadcast(hot), Seq("code"), "left_anti")
      case None => all
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val l = sh.select(col(idCol).as("id_a"), col("code"))
    val r = sh.select(col(idCol).as("id_b"), col("code"))
    l.join(r, Seq("code"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("both"))
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
  }

  /** Lexical k-nearest-neighbors: per document, the `topK` documents
    * sharing the most distinct k-shingles (ties broken by the smaller id),
    * ranked 1..topK — the shingle-overlap analogue of embedding KNN, used
    * for cluster seeding and near-dup triage. Ids must be integral; they
    * are counted as BIGINT and returned in the input's type. Null ids are
    * ignored, and a document sharing no kept shingle emits no rows.
    *
    * Plan: posting-list counting with no pair row anywhere. The shingles
    * are hash-partitioned by code; one window counts each code's document
    * frequency, and only codes with 2 ≤ df ≤ `maxDocFreq` go on to a second
    * window that collects the code's posting list (so a hot code never
    * builds a list and every list holds ≤ maxDocFreq ids). Each
    * (document, posting list) row is hash-partitioned by document, and
    * [[graft.functions.CoOccurrenceTopK]] counts co-occurring ids and keeps
    * the best `topK` per document in one aggregate. Both exchanges use an
    * explicit partition count: their cost is CPU proportional to the
    * posting-list fan-out, not to shuffle bytes, so AQE's by-bytes
    * coalescing would serialize them (the scale_hash_chain precedent).
    * All-integer scores — engine-exact; identical to a row_number over the
    * symmetrized pair counts ordered by (shared desc, neighbor asc). */
  def lexicalKnn(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, topK: Int = 3, maxDocFreq: Int = 50): DataFrame = {
    import graft.functions.GraftFunctions.co_occurrence_top_k
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"lexicalKnn needs an integral id column, got ${idType.catalogString}")
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val byCode = Window.partitionBy("code")
    shingles(df.where(col(idCol).isNotNull), idCol, textCol, k)
      .select(col(idCol).cast("long").as("src"), col("code"))
      .repartition(parts, col("code"))
      .withColumn("df", count(lit(1)).over(byCode))
      .where(col("df").between(2, maxDocFreq))
      .withColumn("ids", collect_list(col("src")).over(byCode))
      .repartition(parts, col("src"))
      .groupBy("src")
      .agg(co_occurrence_top_k(col("ids"), col("src"), topK).as("nb"))
      .select(col("src"), posexplode(col("nb")).as(Seq("pos", "nb")))
      .select(col("src").cast(idType).as(idCol),
        col("nb.dst").cast(idType).as("neighbor_id"),
        col("nb.both").as("shared_shingles"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Exact n-gram Jaccard similarity for pairs sharing ≥ 1 k-shingle:
    * shingle equi-join, then |A∩B| / (|A|+|B|−|A∩B|). Use over LSH
    * candidates (or an id subset) — the shingle join is the verify stage,
    * not the discovery stage, at scale. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minJaccard: Double = 0.2,
      maxDocFreq: Option[Int] = None): DataFrame =
    pairOverlaps(df, idCol, textCol, k, maxDocFreq)
      .withColumn("jaccard",
        q6(col("both").cast("double") /
          (col("sz_a") + col("sz_b") - col("both")).cast("double")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Shingle-containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|).
    * Containment catches subset/quote duplication that Jaccard dilutes
    * (a paragraph wholly copied into a much longer document scores ~1.0
    * here but near 0 on Jaccard). Same plan shape as
    * [[ngramJaccardPairs]] — distinct-shingle equi-join with a
    * doc-frequency stop-shingle filter, AQE stage reuse across the
    * self-join sides — so the same scale notes apply. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minContainment: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame =
    pairOverlaps(df, idCol, textCol, k, maxDocFreq)
      .withColumn("containment",
        q6(col("both").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double")))
      .where(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    * the verify stage of a discovery→verify dedup pipeline. The candidate
    * set (LSH output) is small, so its id set broadcasts as a semi-join
    * onto the corpus BEFORE shingling: only candidate documents are ever
    * exploded, and the shingle equi-join runs over candidates alone; cost
    * scales with candidates, not corpus. Pairs sharing no shingle drop out
    * (their Jaccard is 0). */
  def jaccardForPairs(
      df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    import graft.functions.GraftFunctions.shingle_overlap
    // The candidate pairs are explicit, so the verify stage is per-PAIR
    // arithmetic, not a join problem: attach both texts (two broadcast hash
    // joins of the small pair list against the corpus scan — no corpus
    // shuffle), then the fused ShingleOverlap expression computes
    // |A∩B|/|A|/|B| over distinct shingle codes in one sorted-merge pass
    // per row. Replaces a candidate-doc shingle explode + code equi-join +
    // two aggregations (three exchanges, join fan-out on hot shingles);
    // values are identical (same distinct-shingle sets, same quantization).
    // At 100 TB the pair list may exceed broadcast — then the same two
    // joins run as shuffle joins on id, still O(pairs), never corpus².
    // Pairs sharing no shingle drop out (both = 0), as with the join.
    val a = df.select(col(idCol).as("id_a"), col(textCol).as("_ta"))
    val b = df.select(col(idCol).as("id_b"), col(textCol).as("_tb"))
    broadcast(pairs.select(col("id_a"), col("id_b")))
      .join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("_ov", shingle_overlap(col("_ta"), col("_tb"), k))
      .where(col("_ov.both") >= 1)
      .withColumn("jaccard",
        q6(col("_ov.both").cast("double") /
          (col("_ov.sz_a") + col("_ov.sz_b") - col("_ov.both")).cast("double")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Connected components over near-duplicate pairs: every id is labelled
    * with the minimum id reachable through the pair graph — the canonical
    * "keep one document per duplicate cluster" assignment. Two paths:
    * graphs up to `maxLocalEdges` collect to a driver-side union-find
    * (one job; the usual case — LSH emits candidate PAIRS, a set orders of
    * magnitude smaller than the corpus); larger graphs run iterative
    * min-label propagation (the classic large-graph CC): each round is one
    * shuffle (join + min-agg), rounds = graph diameter, lineage cut per
    * round with an eager local checkpoint so plans stay flat. Near-dup
    * graphs have tiny diameters in practice, so this converges in a few
    * rounds at any corpus size. Only ids appearing in `pairs` are
    * returned; singletons are their own cluster by definition. */
  def connectedComponents(pairs: DataFrame,
      maxLocalEdges: Int = 4000000): DataFrame = {
    // Fast path: an LSH candidate graph is tiny relative to its corpus
    // (pairs, not documents — bounded by bucket collisions). When it fits
    // comfortably on the driver, a single collect + union-find replaces
    // ~log(diameter) shuffle rounds of the iterative path. limit(N+1)
    // bounds the collect: exactly one action, and > N rows falls through
    // to the distributed loop, so the path choice never OOMs the driver.
    val probe = pairs.select(col("id_a"), col("id_b"))
      .limit(maxLocalEdges + 1).collect()
    if (probe.length <= maxLocalEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // attach the larger root under the smaller: the root IS min(id)
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      val spark = pairs.sparkSession
      val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size)
      parent.keySet.forEach(n => out += org.apache.spark.sql.Row(n.longValue(), find(n)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lbl", org.apache.spark.sql.types.LongType))))
    }
    // Union of a localCheckpoint'd frame with lineage derived from it can
    // trip Spark's Union constraint rewrite on stale attribute ids
    // (rewriteConstraints: "key not found: node#N"). Constraints infer
    // nothing useful for these two-column label frames — disable
    // propagation for the loop and restore after.
    val session = pairs.sparkSession
    val constraintKey = "spark.sql.constraintPropagation.enabled"
    val prevConstraint = session.conf.get(constraintKey, "true")
    session.conf.set(constraintKey, "false")
    try {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache() // reused across iterations (distinct jobs), not a self-join
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val prop = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("lbl"))
      val hop = labels.union(prop).groupBy("node").agg(min("lbl").as("lbl"))
      // pointer jumping: also adopt the label OF the label — squares the
      // propagation distance per round, so rounds = O(log diameter). The
      // fixpoint (min id per component) is unchanged.
      val next = hop.as("x")
        .join(hop.select(col("node").as("p_node"), col("lbl").as("p_lbl")),
          col("x.lbl") === col("p_node"), "left")
        .select(col("x.node").as("node"),
          least(col("x.lbl"), coalesce(col("p_lbl"), col("x.lbl"))).as("lbl"))
        // lazy: materializes during the changed-count action below, saving
        // one job per round (eager would run its own)
        .localCheckpoint(false)
      changed = next.as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .where(col("n.lbl") =!= col("o.lbl")).count()
      labels = next
    }
    edges.unpersist(false)
    labels
    } finally session.conf.set(constraintKey, prevConstraint)
  }

  /** Eval-set decontamination: for every training document, the number of
    * distinct k-shingles it shares with ANY document of the (small)
    * evaluation/benchmark set — the leakage gate a training pipeline runs
    * before a data release (the n-gram-overlap decontamination step of
    * published LLM pipelines, char-k-shingle adapted to this corpus).
    * Only contaminated documents are returned.
    *
    * The eval side collapses to a distinct-code set and BROADCASTS (an
    * eval suite is tiny next to a 100 TB corpus); the train side streams
    * RAW shingles through the broadcast semi-probe — deduplication happens
    * in the per-doc countDistinct AFTER the probe, so the only train-side
    * shuffle carries contaminated hits, never the corpus's shingle set. */
  def decontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val trainSh = shingles(train, idCol, textCol, k, distinct = false)
    val evalCodes = shingles(eval, idCol, textCol, k).select("code").distinct()
    trainSh.join(broadcast(evalCodes), Seq("code"), "left_semi")
      .groupBy(col(idCol))
      .agg(countDistinct(col("code")).as("n_shared_shingles"))
  }

  /** Embedding-cosine near-duplicate pairs: banded random-hyperplane LSH
    * discovery (`tables` independent tables of `planesPerTable` sign bits —
    * the MinHash-LSH band shape over the deterministic
    * [[Similarity.projComponent]] hyperplane family), then exact fused
    * cosine ≥ `minCosine` verify over the candidates only.
    *
    * Candidate generation is an equi-join on (table, bucket_key), so the
    * fan-out is per-bucket collisions — never all-pairs — and the verify
    * cost is O(candidates): the two id joins that reattach vectors shuffle
    * only candidate rows. Discovery is approximate by design (recall =
    * 1−(1−p^b)^T for per-plane agreement p); raise `tables` to recover
    * boundary pairs. The oracle twin applies the identical discovery
    * formula, so results are engine-exact at any SF. */
  def embeddingNearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, tables: Int = 12, planesPerTable: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions.{cosine_similarity, projection_dot}
    val bandCols = (0 until tables).map { t =>
      val key = (0 until planesPerTable).map { j =>
        when(projection_dot(col(vecCol), t * planesPerTable + j) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), key.as("bkey"))
    }
    val banded = emb.select(col(idCol), explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("b.tbl").as("tbl"), col("b.bkey").as("bkey"))
    val cands = banded.as("l")
      .join(banded.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bkey") === col("r.bkey") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("cosine", q6(cosine_similarity(col("v_a"), col("v_b"))))
      .where(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Substring-level duplicate candidates via winnowing (MOSS): document
    * pairs sharing ≥ `minShared` winnowed fingerprints, with the shared
    * count as the match strength. The winnowing guarantee makes this the
    * scalable approximation of suffix-array exact-substring dedup: any
    * common run of ≥ k + w − 1 characters produces at least one shared
    * fingerprint, so long boilerplate/template overlap is caught even when
    * whole-document MinHash similarity is low.
    *
    * Plan shape: per-doc fused fingerprinting (no shuffle) → equi-join on
    * the fingerprint VALUE — bucket-local exactly like the MinHash-LSH
    * band join, never all-pairs. A fingerprint shared by m docs fans out
    * m² pair rows, so boilerplate fingerprints (corpus templates, license
    * headers) MUST be dropped: `maxDocFreq` is the stop-fingerprint
    * threshold (same playbook as stop-shingles in [[ngramJaccardPairs]] —
    * broadcast anti-join of the hot set), which also bounds every join
    * bucket to ≤ maxDocFreq rows per side at any corpus scale. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 12, minShared: Long = 2L,
      maxDocFreq: Option[Int] = Some(50)): DataFrame = {
    val all = TextAnalysis.winnowFingerprints(
      df.where(length(col(textCol)) >= k + w - 1), idCol, textCol, k, w)
    val fps = maxDocFreq match {
      case Some(maxDf) =>
        val hot = all.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select("fp")
        all.join(broadcast(hot), Seq("fp"), "left_anti")
      case None => all
    }
    val l = fps.select(col(idCol).as("id_a"), col("fp"))
    val r = fps.select(col(idCol).as("id_b"), col("fp"))
    l.join(r, Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Maximal duplicated-substring spans between document pairs — the
    * distributed analogue of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): instead of one global suffix array (inherently
    * sequential to build), duplicated RUNS are recovered from word k-gram
    * seed matches merged along match diagonals.
    *
    * Pipeline: positional word k-grams per doc (one split + one explode,
    * no shuffle) → total-occurrence cap drops boilerplate grams (the
    * stop-shingle playbook; also bounds every join bucket to ≤ maxGramFreq
    * rows per side) → equi-join on the gram STRING → per (pair, diagonal
    * = pos_a − pos_b) gaps-islands merge: seed matches whose positions on
    * a shared diagonal are within `k` words belong to one contiguous (or
    * overlapping) duplicated span. Output: one row per maximal span with
    * its start in both docs, word length, and seed count.
    *
    * At 100 TB the shuffle keys are (gram) then (id_a, id_b, diag) — both
    * bounded: the first by the frequency cap, the second
    * match-proportional. Nothing is ever all-pairs, and the window
    * partition is a single span chain, never a whole document. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, maxGramFreq: Int = 20, minSpanWords: Int = 4): DataFrame = {
    val d = df.select(col(idCol).as("_id"), split(col(textCol), " ").as("_ws"))
      .where(size(col("_ws")) >= k)
    val grams = d.select(col("_id"), posexplode(expr(
        s"transform(sequence(1, size(_ws) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(_ws, i, $k)))")).as(Seq("_p0", "gram")))
      .select(col("_id"), (col("_p0") + 1).cast("long").as("pos"), col("gram"))
    val hot = grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .where(col("n") > maxGramFreq).select("gram")
    val keep = grams.join(broadcast(hot), Seq("gram"), "left_anti")
    val m = keep.as("a").join(keep.as("b"),
        col("a.gram") === col("b.gram") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .withColumn("diag", col("pa") - col("pb"))
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    m.withColumn("brk",
        when(col("pa") - lag("pa", 1).over(w) <= k, 0L).otherwise(1L))
      .withColumn("gid", sum("brk").over(w))
      .groupBy("id_a", "id_b", "diag", "gid")
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        (max("pa") - min("pa") + k).as("span_words"),
        count(lit(1)).as("n_seeds"))
      .where(col("span_words") >= minSpanWords)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"),
        col("span_words").cast("long").as("span_words"), col("n_seeds"))
  }

  /** The APPLICATION half of [[duplicatedSpans]] (Lee et al. 2022 drop
    * duplicated substrings, keep the rest): per KEPT-SIDE document
    * (id_b — the higher id loses, matching every keep-lowest-id rule
    * here), the union of its duplicated word intervals, merged across
    * ALL partners, and the resulting removable-content stats. Interval
    * union is one running-max window per doc (order-insensitive under
    * ties: equal intervals produce identical break flags), so the merge
    * is a plain (doc)-keyed window over match-proportional rows — never
    * document-scale state. Returns only docs with ≥ 1 duplicated span:
    * (id, n_words, dup_words, n_spans, dup_milli). */
  def spanRemovalStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, maxGramFreq: Int = 20, minSpanWords: Int = 4): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, maxGramFreq, minSpanWords)
    val ivals = spans.select(col("id_b").as("_id"), col("start_b").as("s"),
      (col("start_b") + col("span_words")).as("e"))
    val w = Window.partitionBy("_id").orderBy("s", "e")
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val isl = ivals
      .withColumn("pmax", max("e").over(wPrev))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("gid", sum("brk").over(w))
    val perDoc = isl.groupBy("_id", "gid")
      .agg((max("e") - min("s")).as("len"))
      .groupBy("_id")
      .agg(sum("len").as("dup_words"), count(lit(1)).as("n_spans"))
    df.select(col(idCol).as("_id"),
        size(split(col(textCol), " ")).cast("long").as("n_words"))
      .join(perDoc, Seq("_id"))
      .select(col("_id").as(idCol), col("n_words"),
        col("dup_words").cast("long").as("dup_words"), col("n_spans"),
        expr("dup_words * 1000 DIV n_words").as("dup_milli"))
  }

  /** Content-defined chunking (CDC): split each document at positions
    * where the rolling k-shingle hash hits `hash % divisor == 0` — the
    * rsync/LBFS boundary rule that underpins chunk-level dedup in storage
    * systems and data pipelines. Because boundaries depend only on LOCAL
    * content, an insertion early in a document shifts at most one chunk:
    * all later chunks re-align and still dedup, which fixed-size blocking
    * cannot do. Expected chunk length ≈ `divisor` characters.
    *
    * A cut after character `i + k − 1` fires when the shingle starting at
    * `i` hashes to the mask; the shingle codes come from the fused rolling
    * [[graft.functions.ShingleCodes]] pass (O(chars), one narrow
    * projection), and the boundary/substring assembly is pure per-row array
    * arithmetic — the whole operator is shuffle-free. Returns one row per
    * positional chunk: (id, chunk_idx, chunk).
    *
    * At 100 TB: downstream consumers should key on `xxhash64(chunk)` (or
    * [[graft.functions.GraftFunctions.fnv1a64]] for wire parity) rather
    * than the chunk string so the dedup shuffle carries 8-byte keys; the
    * string is kept here because the correctness gate compares content
    * exactly. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 64): DataFrame = {
    import graft.functions.GraftFunctions.shingle_codes
    val (a, b) = hashCoeffs(1).head
    val withBounds = df.where(length(col(textCol)) >= k)
      .select(col(idCol), col(textCol).as("_t"),
        shingle_codes(col(textCol), k).as("_cd"))
      .withColumn("_b", array_distinct(concat(
        array(lit(0)),
        expr(s"transform(filter(sequence(1, size(_cd)), " +
          s"i -> (($a * (element_at(_cd, i) % ${TextOps.P}) + $b) % ${TextOps.P}) % $divisor = 0), " +
          s"i -> i + ${k - 1})"),
        array(length(col("_t"))))))
    withBounds
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(_b) - 1), x -> struct(" +
          "CAST(x AS BIGINT) AS chunk_idx, " +
          "substr(_t, element_at(_b, x) + 1, " +
          "element_at(_b, x + 1) - element_at(_b, x)) AS chunk))")).as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every vector to its IVF cell ([[Similarity.ivfAssign]]'s
    * deterministic coarse quantizer), then WITHIN each cell drop every
    * vector that has a >= `minCosine` neighbor with a smaller id
    * (keep-lowest-id stands in for the paper's keep-farthest-from-centroid
    * — deterministic and oracle-expressible). Returns the survivors as
    * (id, centroid_id).
    *
    * At 100 TB: cost is Σ|cell|² — cluster-local, never corpus all-pairs —
    * and the pair join is a plain equi-join on `centroid_id`, so `nCells`
    * is the knob that bounds the quadratic term (the paper uses ~100k
    * cells for billions of vectors). Oversized cells are the skew risk:
    * raise `nCells` or sub-split hot cells by a secondary LSH bit before
    * the pair join. */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, minCosine: Double): DataFrame = {
    import graft.functions.GraftFunctions.cosine_similarity
    val assigned = emb
      .join(Similarity.ivfAssign(emb, idCol, vecCol, nCells), Seq(idCol))
      .select(col(idCol), col(vecCol), col("centroid_id"))
    val a = assigned.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      col("centroid_id"))
    val b = assigned.select(col(idCol).as("id_b"), col(vecCol).as("v_b"),
      col("centroid_id"))
    val dups = a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b") &&
        q6(cosine_similarity(col("v_a"), col("v_b"))) >= minCosine)
      .select(col("id_b").as("dup_id")).distinct()
    assigned
      .join(dups, col(idCol) === col("dup_id"), "left_anti")
      .select(col(idCol), col("centroid_id"))
  }

  /** Bloom-filter incremental dedup — the crawl-snapshot membership gate:
    * the PRIOR corpus registers every document into a deterministic m-bit
    * Bloom filter (k salted-FNV probe positions,
    * `pos_j(t) = fnv1a64(t ⧺ "#j") & (m−1)`), and each NEW document tests
    * all k positions — `bloom_hit` iff every one is set. Only the hit
    * slice (true dups + the bounded false-positive rate) enters the exact
    * verify semi-join, so the new batch never joins against the full prior
    * corpus: the filter is the scale gate, the exact join the small
    * confirmation — the standard incremental-crawl shape where the prior
    * snapshot is orders of magnitude larger than the new batch.
    *
    * No false negatives by construction; the oracle computes `exact_dup`
    * INDEPENDENTLY (ground-truth membership, not via the filter), so a
    * Bloom miss on a true duplicate fails the gate — the soundness claim
    * is tested, not assumed. False positives are expected and visible
    * (`bloom_hit ∧ ¬exact_dup`) once the fill ratio is non-trivial.
    *
    * Scale shape: the set-bit table is ≤ m distinct positions (8-byte
    * rows) — broadcast to the probe join; the exact verify is a hash
    * semi-join on the 8-byte text hash restricted to bloom hits. Size m
    * at ~14 bits/key (k≈10) for ~1e-4 FP at production key counts; the
    * default here is test-scale so false positives actually occur at
    * sf0.01. */
  /** The k salted-FNV probe positions of a text in an m-bit Bloom filter,
    * as an array column — ONE definition shared by the batch gate
    * ([[bloomProbe]]) and the streaming gate (stream_bloom_gate), so the
    * register and probe sides can never drift. */
  def bloomPositions(t: Column, mBits: Int, k: Int): Column = {
    require(mBits > 0 && (mBits & (mBits - 1)) == 0,
      "mBits must be a power of two (position = low bits of the salted hash)")
    import graft.functions.GraftFunctions.fnv1a64
    array((0 until k).map(j =>
      fnv1a64(encode(concat(t, lit("#" + j)), "UTF-8"))
        .bitwiseAND(lit((mBits - 1).toLong))): _*)
  }

  /** The registered filter as a relation: the DISTINCT set-bit positions of
    * the prior corpus — ≤ mBits 8-byte rows, always broadcastable. */
  def bloomSetBits(prior: DataFrame, textCol: String,
      mBits: Int, k: Int): DataFrame =
    prior.select(explode(bloomPositions(col(textCol), mBits, k)).as("pos"))
      .distinct()

  def bloomProbe(prior: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, mBits: Int = 1 << 14, k: Int = 3): DataFrame = {
    import graft.functions.GraftFunctions.fnv1a64
    def textHash(t: Column): Column = fnv1a64(encode(t, "UTF-8"))
    val setBits = bloomSetBits(prior, textCol, mBits, k)
    // k probe rows per doc; each matches the distinct set-bit table at most
    // once, so nhit == k ⟺ every probe position is set (salted positions
    // that collide still contribute one matched row each).
    val probes = batch.select(col(idCol),
      explode(bloomPositions(col(textCol), mBits, k)).as("pos"))
    val hits = probes.join(broadcast(setBits), Seq("pos"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("_nhit"))
    val priorHashes = prior
      .select(textHash(col(textCol)).as("_h")).distinct()
    val flagged = batch
      .select(col(idCol), textHash(col(textCol)).as("_h"))
      .join(hits, Seq(idCol), "left")
      .withColumn("bloom_hit", coalesce(col("_nhit"), lit(0L)) === k)
    val confirmed = flagged.where(col("bloom_hit"))
      .join(priorHashes, Seq("_h"), "left_semi")
      .select(col(idCol).as("_eid"))
    flagged.join(confirmed, col(idCol) === col("_eid"), "left")
      .select(col(idCol), col("bloom_hit"),
        col("_eid").isNotNull.as("exact_dup"),
        (col("bloom_hit") || col("_eid").isNull).as("sound"))
  }
}
