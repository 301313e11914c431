package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content-hash), MinHash+LSH, SimHash, and exact n-gram Jaccard with
  * shingle blocking. All pure `DataFrame => DataFrame` — no driver-side
  * loops, no UDFs; every per-row computation is built from codegen'd
  * higher-order array functions, and every cross-row step is an explicit
  * shuffle whose key is stated in the doc comment.
  *
  * Scale design (100 TB):
  *  - exact dedup shuffles once on a 256-bit content hash (uniform keys, no
  *    skew by construction);
  *  - MinHash/SimHash candidate generation shuffles on (band, bandHash)
  *    buckets; hot buckets (boilerplate shingles) are capped by
  *    `maxBucketSize` — the standard stop-bucket cutoff, otherwise one
  *    degenerate bucket produces O(n²) candidate pairs; the Hamming screen
  *    ([[hammingPairs]]) caps and verifies each bucket inside the task
  *    that holds it, after its one (band, chunk) shuffle;
  *  - signatures are computed row-local in one pass over the shingle array
  *    (k folds, no shuffle, stays inside whole-stage codegen).
  */
object Dedup {

  /** Lowercased word tokens; `sep` is a literal-space split to keep exact
    * parity with single-space-joined corpora. */
  def words(text: Column): Column = split(lower(text), " ")

  /** Distinct word n-gram shingles of `text` (empty array below n words).
    * Native one-pass kernel ([[graft.expressions.WordNGrams]]). */
  def shingles(text: Column, n: Int): Column =
    graft.expressions.GraftFunctions.graftNGrams(words(text), n)

  /** Exact dedup: one survivor (min `keyCol`) per distinct `contentCol`,
    * grouped by sha2-256. Single shuffle on the hash. */
  def exact(df: DataFrame, contentCol: String, keyCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(contentCol).cast("binary"), 256))
      .orderBy(col(keyCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact Jaccard similarity of two distinct-element arrays (|∩| / |∪|). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** k-element MinHash signature over a shingle array: h_i(S) = min_{s∈S}
    * ((a_i·x(s) + b_i) mod p) with x(s) = xxhash64(s) folded to 31 bits so
    * a_i·x never overflows a long. Row-local (no shuffle); native one-pass
    * kernel ([[graft.expressions.MinHashSignature]]). */
  def minHashSignature(shingleCol: Column, k: Int): Column =
    graft.expressions.GraftFunctions.graftMinHash(shingleCol, k)

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle → k-minhash → `bands` banded bucket keys → bucket self-join →
    * exact-Jaccard verification at `threshold`. Returns (idA, idB, jaccard)
    * with idA < idB — i.e. only *verified* pairs, so false-positive bucket
    * collisions never escape; recall is the standard 1-(1-J^r)^b curve.
    *
    * @param maxBucketSize drop buckets larger than this before pairing
    *                      (skew guard; <=0 disables)
    */
  def minHashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      reuseShingles: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sh0 = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sig", minHashSignature(col("__sh"), numHashes))
    // the banding self-join and the two verification joins would otherwise
    // re-evaluate the shingle+signature subtree 4x (BroadcastExchange vs
    // shuffle Exchange prevents ReuseExchange); a lazy local checkpoint
    // materializes it once per query
    val sh = if (reuseShingles) sh0.localCheckpoint(false) else sh0

    // banding carries only (id, band, bh) — the ~50-element shingle arrays
    // would otherwise ride through the bucket shuffle and self-join; they are
    // re-attached only for the (small) verified candidate set below.
    val banded = sh.select(
      col("__id"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          xxhash64(lit(j), slice(col("__sig"), j * r + 1, r)).as("bh"))): _*))
        .as("__b"))
      .select(col("__id"), col("__b.band"), col("__b.bh"))

    // stop-bucket cap as a hash aggregate + anti-join: the over-cap bucket
    // list is tiny (≤ rows/cap entries), so AQE turns the anti-join into a
    // broadcast — no sort of the banded table, unlike a count() window
    // (which sort-shuffles the entire exploded table per partition key)
    val capped =
      if (maxBucketSize > 0) {
        // hot is pinned: the candidate self-join consumes `capped` TWICE and
        // broadcast exchanges are never reused across consumers (plan audit:
        // 0 ReusedExchange), so the full bucket-count aggregate over the
        // banded table ran once per side — a tiny ≤rows/cap frame pins it
        val hot = banded.groupBy("band", "bh").count()
          .filter(col("count") > maxBucketSize).select("band", "bh")
          .localCheckpoint(false)
        // NOT pinned: both candidate sides re-derive it, but that is one
        // narrow explode off the pinned sh + a broadcast anti-join against
        // the pinned hot list (no shuffle) — A/B'd flat at sf0.1, and the
        // pin would materialize bands×n rows at corpus scale for nothing
        banded.join(hot, Seq("band", "bh"), "left_anti")
      } else banded

    val cand = capped.select(col("band"), col("bh"), col("__id").as("ida"))
      .join(capped.select(col("band"), col("bh"), col("__id").as("idb")), Seq("band", "bh"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    cand
      .join(sh.select(col("__id").as("ida"), col("__sh").as("sha")), Seq("ida"))
      .join(sh.select(col("__id").as("idb"), col("__sh").as("shb")), Seq("idb"))
      // size bound (exact, result-identical): J ≥ t forces
      // t·|A| ≤ |B| ≤ |A|/t — two O(1) array lengths per candidate skip
      // the O(|A|+|B|) intersect+union walks on size-incompatible pairs
      .filter(size(col("shb")) >= lit(threshold) * size(col("sha")) &&
        size(col("sha")) >= lit(threshold) * size(col("shb")))
      .select(col("ida"), col("idb"), jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash+LSH: near-dup pairs BETWEEN an existing corpus and
    * an incoming batch only (corpus-internal and batch-internal pairs are
    * not re-derived) — the day-2 shape of a production dedup pipeline:
    * pairing cost is bands·|batch| bucket probes against the corpus bucket
    * table, not a fresh self-join over corpus ∪ batch. Returns
    * (corpus_id, batch_id, jaccard), verified-exact like
    * [[minHashLshPairs]]; the same banding parameters MUST be used on both
    * sides (and stored corpus signatures can be reused across batches).
    */
  def minHashLshPairsAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def prep(df: DataFrame): DataFrame =
      df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .withColumn("__sig", minHashSignature(col("__sh"), numHashes))
        .localCheckpoint(false)
    def band(df: DataFrame): DataFrame =
      df.select(col("__id"),
        explode(array((0 until bands).map(j =>
          struct(lit(j).as("band"),
            xxhash64(lit(j), slice(col("__sig"), j * r + 1, r)).as("bh"))): _*))
          .as("__b"))
        .select(col("__id"), col("__b.band"), col("__b.bh"))
    val (cp, bp) = (prep(corpus), prep(batch))
    val cb = band(cp)
    // hot-bucket cap on the CORPUS side (the side that can degenerate)
    val capped =
      if (maxBucketSize > 0) {
        val hot = cb.groupBy("band", "bh").count()
          .filter(col("count") > maxBucketSize).select("band", "bh")
        cb.join(hot, Seq("band", "bh"), "left_anti")
      } else cb
    val cand = capped.select(col("band"), col("bh"), col("__id").as("ida"))
      .join(band(bp).select(col("band"), col("bh"), col("__id").as("idb")),
        Seq("band", "bh"))
      .select("ida", "idb").distinct()
    cand
      .join(cp.select(col("__id").as("ida"), col("__sh").as("sha")), Seq("ida"))
      .join(bp.select(col("__id").as("idb"), col("__sh").as("shb")), Seq("idb"))
      // size bound (exact, result-identical — same as minHashLshPairs):
      // J ≥ t forces t·|A| ≤ |B| ≤ |A|/t, two O(1) array lengths per
      // candidate skip the intersect+union walks
      .filter(size(col("shb")) >= lit(threshold) * size(col("sha")) &&
        size(col("sha")) >= lit(threshold) * size(col("shb")))
      .select(col("ida"), col("idb"), jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Train-vs-eval decontamination: for every train doc, the number of
    * DISTINCT word n-grams it shares with ANY eval doc, plus a
    * `contaminated` flag (`eval_ngram_hits >= minHits`) — the benchmark-
    * leakage scrub of a training-data pipeline (a separate concern from
    * dedup: the eval set is small, external, and must never be paired
    * against itself).
    *
    * Scale: the eval n-gram set is distinct-aggregated once — it is
    * eval-corpus-sized, orders of magnitude smaller than the train corpus —
    * and hash-joined on the shingle (AQE broadcasts it when it fits).
    * The train side explodes its per-doc DISTINCT shingles (native
    * [[graft.expressions.WordNGrams]], one shuffle on the shingle), hit
    * counts are a per-doc hash aggregate, and a left join restores the
    * clean docs with 0 hits. Nothing sorts; no n² pairing anywhere.
    */
  def decontaminate(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 5, minHits: Int = 1): DataFrame = {
    val evalGrams = eval
      .select(explode(shingles(col(textCol), shingleN)).as("shingle"))
      .distinct()
    val hits = train
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), shingleN)).as("shingle"))
      .join(evalGrams, Seq("shingle"))
      .groupBy("__id").agg(count(lit(1)).as("eval_ngram_hits"))
    val ids = train.select(col(idCol))
    ids.join(hits, ids(idCol) === hits("__id"), "left")
      .drop("__id")
      .withColumn("eval_ngram_hits", coalesce(col("eval_ngram_hits"), lit(0L)))
      .withColumn("contaminated", (col("eval_ngram_hits") >= minHits).cast("int"))
  }

  /** Paragraph-level exact dedup (CCNet-style): split each document into
    * consecutive `paraWords`-word paragraphs, keep only the FIRST
    * corpus-wide occurrence of each distinct paragraph (first = lowest
    * (id, paragraph index) order), and reassemble each document from its
    * surviving paragraphs. Boilerplate repeated across pages (headers,
    * navigation, license blocks) disappears from every copy but one while
    * unique prose is untouched — dedup at sub-document granularity, the
    * complement of whole-document [[exact]].
    *
    * Returns one row per input document: (idCol, n_paras, n_kept,
    * clean_text); n_kept = 0 keeps fully-boilerplate docs visible to
    * downstream filters rather than silently dropping them.
    *
    * Scale: the split is row-local (codegen'd array ops); the only wide
    * exchanges are the first-occurrence window keyed on the paragraph text
    * and the per-document reassembly groupBy — 2 shuffles total, both on
    * keys that cannot skew beyond true paragraph frequency (and a 100 TB
    * run would key the window on xxhash64(paragraph) to shrink shuffle
    * bytes; equality semantics identical up to 64-bit collisions).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      paraWords: Int = 8): DataFrame = {
    val exploded = paragraphs(df, idCol, textCol, paraWords)
    val firstSeen = Window.partitionBy(col("para"))
      .orderBy(col(idCol), col("para_idx"))
    reassembleParagraphs(
      exploded.withColumn("__rn", row_number().over(firstSeen))
        .withColumn("__keep", col("__rn") === 1),
      idCol)
  }

  /** The paragraph explode of [[paragraphDedup]]: one (idCol, para_idx,
    * para) row per consecutive `paraWords`-word window — row-local, shared
    * by the batch and the incremental/streaming paragraph dedup paths. */
  def paragraphs(df: DataFrame, idCol: String, textCol: String,
      paraWords: Int = 8): DataFrame = {
    val w = words(col(textCol))
    // consecutive fixed-width word windows; slice() truncates the tail
    val paras = transform(
      sequence(lit(0), ceil(size(w) / lit(paraWords.toDouble)).cast("int") - 1),
      i => array_join(slice(w, i * paraWords + 1, lit(paraWords)), " "))
    df.select(col(idCol), posexplode(paras).as(Seq("para_idx", "para")))
  }

  /** The reassembly tail of [[paragraphDedup]]: per-document counts +
    * clean_text from the rows whose boolean `__keep` column is true. */
  private[graft] def reassembleParagraphs(
      exploded: DataFrame, idCol: String): DataFrame =
    exploded
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        count(when(col("__keep"), 1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("para_idx"), col("para"))))),
            p => p.getField("para")),
          " ").as("clean_text"))

  /** Exact n-gram Jaccard near-duplicate pairs via shingle blocking: pairs
    * sharing >=1 shingle are candidates (perfect recall), then exact Jaccard.
    * Shuffles on the shingle (blocking key); `maxShingleFreq` drops shingles
    * occurring in more than that many docs (stop-shingle skew guard — a
    * shingle in f docs contributes f² candidate rows).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxShingleFreq: Int = 0, reuseShingles: Boolean = true): DataFrame = {
    val sh0 = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // both sides of the blocking self-join re-evaluate the shingle subtree;
    // materialize it once (lazy local checkpoint)
    val sh = if (reuseShingles) sh0.localCheckpoint(false) else sh0
    // per-doc set size attached before the explode (a constant int per row —
    // no separate sizes join anywhere downstream)
    val ex = sh.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__s"))
    // df cap as hash aggregate + anti-join (the over-cap shingle set has at
    // most rows/cap entries → AQE broadcasts it), replacing a count() window
    // that sort-shuffled the exploded shingle table — the largest
    // intermediate of the whole pipeline — just to compute frequencies
    val exf =
      if (maxShingleFreq > 0) {
        // hot is pinned: the blocking self-join consumes `exf` twice and
        // broadcast exchanges are not reused across consumers (plan audit:
        // 0 ReusedExchange), so the frequency aggregate over the full
        // exploded shingle table ran once per join side — the over-cap
        // list is ≤ rows/cap entries, so the pin is free
        val hot = ex.groupBy("__s").count()
          .filter(col("count") > maxShingleFreq).select("__s")
          .localCheckpoint(false)
        ex.join(hot, Seq("__s"), "left_anti")
      } else ex
    // |A∩B| directly as the number of co-occurring (distinct) shingles per
    // pair — a single groupBy count over the blocking join, instead of
    // distinct-pairs + re-joining both shingle arrays + per-pair array
    // intersection (which re-walks two ~50-element arrays per candidate).
    // |A∪B| = |A| + |B| - |A∩B|; the per-doc sizes ride along the blocking
    // join (one extra int per row) and survive the groupBy as max() of a
    // per-group constant — no post-group join of the (large) pair table.
    exf.select(col("__s"), col("__id").as("ida"), col("__sz").as("__sza"))
      .join(exf.select(col("__s"), col("__id").as("idb"), col("__sz").as("__szb")),
        Seq("__s"))
      .filter(col("ida") < col("idb"))
      // AllPairs size bound (exact, result-identical): J(A,B) ≥ t forces
      // t·|A| ≤ |B| ≤ |A|/t — if |B| < t·|A| then |∩| ≤ |B| and |∪| ≥ |A|,
      // so J ≤ |B|/|A| < t. A codegen'd comparison per co-occurrence row
      // drops size-incompatible pairs BEFORE the pair aggregate: fewer
      // rows into the partial hash agg and fewer partial pairs shuffled,
      // with the pair set unchanged (every dropped pair would have been
      // filtered by the jaccard threshold below anyway)
      .filter(col("__szb") >= lit(threshold) * col("__sza") &&
        col("__sza") >= lit(threshold) * col("__szb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("__cnt"), max("__sza").as("__sza"), max("__szb").as("__szb"))
      .select(col("ida"), col("idb"),
        (col("__cnt").cast("double") / (col("__sza") + col("__szb") - col("__cnt")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard pairs by PREFIX FILTERING (Bayardo et al.
    * AllPairs / Chaudhuri et al. SSJoin) — same output as
    * [[ngramJaccardPairs]] (spec-identical), far fewer candidates.
    *
    * J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so under any global shingle order
    * two qualifying sets MUST share one of their (|X| − ⌈t·|X|⌉ + 1)
    * smallest shingles: if the smallest shared shingle sat outside either
    * prefix, the whole intersection would fit in that side's suffix of
    * ⌈t·|X|⌉ − 1 elements — contradiction. Ordering globally by
    * (frequency, shingle) makes prefixes the RAREST shingles, so the
    * blocking join never touches hot shingles: candidate volume is
    * Σ_{s∈prefixes} f'ₛ² instead of Σ_s fₛ² over every shingle (11M
    * co-occurrence rows at sf0.1 for the count-based plan). The small
    * candidate set then verifies with one `array_intersect` per pair —
    * affordable exactly because prefixes made candidates ≈ true pairs.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sz", size(col("__sh")))
      .localCheckpoint(false)
    val ex = sh.select(col("__id"), col("__sz"), explode(col("__sh")).as("__s"))
    val freq = ex.groupBy("__s").agg(count(lit(1)).as("__f"))
    val wRank = Window.partitionBy(col("__id")).orderBy(col("__f"), col("__s"))
    val prefix = ex.join(freq, Seq("__s"))
      .withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= col("__sz") - ceil(lit(threshold) * col("__sz")) + 1)
      .select(col("__s"), col("__id"))
    val cand = prefix.select(col("__s"), col("__id").as("ida"))
      .join(prefix.select(col("__s"), col("__id").as("idb")), Seq("__s"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    cand
      .join(sh.select(col("__id").as("ida"), col("__sh").as("__sha"),
        col("__sz").as("__sza")), Seq("ida"))
      .join(sh.select(col("__id").as("idb"), col("__sh").as("__shb"),
        col("__sz").as("__szb")), Seq("idb"))
      .withColumn("__cnt", size(array_intersect(col("__sha"), col("__shb"))))
      .select(col("ida"), col("idb"),
        (col("__cnt").cast("double") / (col("__sza") + col("__szb") - col("__cnt")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment pairs by prefix filtering — same output as
    * [[containmentPairs]] with no df cap. Containment is one-sided
    * (|∩|/|A| ≥ t says nothing about |B|), so only the CONTAINED side can
    * prefix-prune: A indexes its (|A| − ⌈t·|A|⌉ + 1) rarest shingles
    * (≈ 10% of them at t = 0.9), the container side indexes everything,
    * and candidates are (prefix × full) shingle matches — rare-shingle
    * volume on the A side keeps hot shingles from ever pairing. */
  def containmentPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.9,
      maxShingleFreq: Int = 0): DataFrame = {
    val sh = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__sz", size(col("__sh")))
      .localCheckpoint(false)
    val ex = sh.select(col("__id"), col("__sz"), explode(col("__sh")).as("__s"))
    val freq = ex.groupBy("__s").agg(count(lit(1)).as("__f"))
    // df cap (matches containmentPairs' capped semantics: hot shingles
    // leave the intersection NUMERATOR; the denominator stays the full set
    // size). The prefix bound tightens with it: |capped ∩| >= ceil(t·|A|)
    // still, but A now has only its capped shingles to offer — a doc whose
    // capped prefix length <= 0 can never qualify and drops out entirely.
    // consumer history: exf once fed THREE consumers, and the uncapped tier
    // pinned it (r11 A/B: 8.8 → 3.4 s). The verify arrays now come straight
    // from the checkpointed `sh` (below), and the candidate join's
    // container side needs only (shingle, id) — on the uncapped tier that
    // is `ex` itself (the freq join drops nothing) — so exf is down to ONE
    // consumer (the prefix ranking) and the persist went with the
    // re-reads. The capped tier's small filtered frame was never pinned
    // (persisting it measured SLOWER, 1.5 → 2.9 s).
    val exf = ex.join(
      if (maxShingleFreq > 0) freq.filter(col("__f") <= maxShingleFreq)
      else freq, Seq("__s"))
    val wRank = Window.partitionBy(col("__id")).orderBy(col("__f"), col("__s"))
    val wCnt = Window.partitionBy(col("__id"))
    // __szc is the doc's SURVIVING shingle count. With no cap the freq join
    // drops nothing, so it equals the __sz already on every row — the
    // count-over-partition window (a second WindowExec pass over the full
    // exploded frame) only runs on the capped tier where rows really drop.
    val ranked = exf.withColumn("__rn", row_number().over(wRank))
    val prefix = (if (maxShingleFreq > 0)
        ranked.withColumn("__szc", count(lit(1)).over(wCnt))
      else ranked.withColumn("__szc", col("__sz")))
      .filter(col("__rn") <= col("__szc") - ceil(lit(threshold) * col("__sz")) + 1)
      .select(col("__s"), col("__id"))
    // container side: the CAPPED tier must read the filtered frame (hot
    // shingles must not pair); uncapped, (shingle, id) is `ex` itself —
    // a narrow explode off the checkpoint, no freq join to re-run
    val container =
      if (maxShingleFreq > 0) exf.select(col("__s"), col("__id").as("container"))
      else ex.select(col("__s"), col("__id").as("container"))
    val cand = prefix.select(col("__s"), col("__id").as("contained"))
      .join(container, Seq("__s"))
      .filter(col("contained") =!= col("container"))
      .select("contained", "container").distinct()
    // verify arrays: on the capped tier the surviving shingles must be
    // re-collected per doc; uncapped they ARE the checkpointed __sh (the
    // shingle kernel emits distinct arrays, and array_intersect size is
    // order-insensitive) — reusing sh removes a full explode→groupBy→
    // collect_list shuffle from the verify side.
    val cappedArrays =
      if (maxShingleFreq > 0)
        exf.groupBy("__id")
          .agg(collect_list(col("__s")).as("__shc"), max("__sz").as("__sz"))
      else sh.select(col("__id"), col("__sh").as("__shc"), col("__sz"))
    cand
      .join(cappedArrays.select(col("__id").as("contained"),
        col("__shc").as("__sha"), col("__sz").as("__sza")), Seq("contained"))
      .join(cappedArrays.select(col("__id").as("container"),
        col("__shc").as("__shb")), Seq("container"))
      // size bound (exact, result-identical): |∩| ≤ |B_surviving|, so
      // containment ≥ t forces size(__shb) ≥ t·__sza — two O(1) array
      // lengths per pair skip the O(|A|+|B|) intersect walk on every
      // size-incompatible candidate
      .filter(size(col("__shb")) >= lit(threshold) * col("__sza"))
      .withColumn("__cnt", size(array_intersect(col("__sha"), col("__shb"))))
      .select(col("contained"), col("container"),
        (col("__cnt").cast("double") / col("__sza")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Asymmetric containment pairs: |shingles(A) ∩ shingles(B)| / |shingles(A)|
    * ≥ threshold — "A is mostly contained in B" (quote/subsumption
    * detection, where Jaccard misses short-in-long duplication because the
    * union term dilutes it). Same shingle-blocking machinery as
    * [[ngramJaccardPairs]]: one explode, one blocking join, one count-based
    * group — emitted both ways (containedId, containerId, containment), so
    * a short doc quoted inside a long one surfaces even at Jaccard ≈ 0.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.9,
      maxShingleFreq: Int = 0): DataFrame = {
    val sh = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint(false)
    val ex = sh.select(col("__id"), size(col("__sh")).as("__sz"),
      explode(col("__sh")).as("__s"))
    val exf =
      if (maxShingleFreq > 0) {
        val hot = ex.groupBy("__s").count()
          .filter(col("count") > maxShingleFreq).select("__s")
        ex.join(hot, Seq("__s"), "left_anti")
      } else ex
    val inter = exf.select(col("__s"), col("__id").as("ida"), col("__sz").as("__sza"))
      .join(exf.select(col("__s"), col("__id").as("idb")), Seq("__s"))
      .filter(col("ida") =!= col("idb"))
      .groupBy("ida", "idb")
      .agg(count(lit(1)).as("__cnt"), max("__sza").as("__sza"))
    inter
      .select(col("ida").as("contained"), col("idb").as("container"),
        (col("__cnt").cast("double") / col("__sza")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** 64-bit SimHash of the token multiset: bit j is the sign of the sum of
    * ±1 votes (bit j of xxhash64(token)). Row-local fold, no shuffle. */
  def simHash(text: Column): Column =
    graft.expressions.GraftFunctions.graftSimHash(
      filter(words(text), t => length(t) > lit(0)))

  /** 62-bit SimHash with an explicit SQL-reproducible per-token hash —
    * same vote semantics as [[simHash]], cross-engine checkable (see
    * [[graft.expressions.TextHashKernels.simHashExplicit]]). */
  def simHashExplicit(text: Column): Column =
    graft.expressions.GraftFunctions.graftSimHash62(
      filter(words(text), t => length(t) > lit(0)))

  /** SimHash near-duplicate pairs with Hamming distance <= maxHamming:
    * row-local 64-bit signatures + [[hammingPairs]] banding (4 × 16-bit
    * chunks — perfect recall for maxHamming <= 3, standard high-recall
    * candidate generator above that). */
  def simHashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("__id"), simHash(col(textCol)).as("__sig")),
      "__id", "__sig", maxHamming, maxBucketSize, pieces = 4)

  /** [[simHashPairs]] over the explicit SQL-reproducible signature
    * ([[simHashExplicit]]), with `pieces = maxHamming + 1` so recall is
    * PERFECT — the output equals the all-pairs Hamming join, which is what
    * lets a DuckDB oracle check the whole pipeline (signature math
    * included) bit-for-bit. Buckets are deliberately UNCAPPED by default:
    * a stop-bucket cap would silently drop a qualifying pair's only shared
    * band and break the oracle-equality contract (with `pieces=maxHamming+1`
    * the chunks are only ~15 bits, so hot buckets are realistic at scale).
    * Callers who cap anyway knowingly trade the exactness claim for
    * bounded bucket cost — the capped path is [[simHashPairs]]. */
  def simHashPairsExplicit(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = Int.MaxValue): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("__id"),
        simHashExplicit(col(textCol)).as("__sig")),
      "__id", "__sig", maxHamming, maxBucketSize, pieces = maxHamming + 1)

  /** All (a<b) pairs of 64-bit signatures within Hamming distance
    * `maxHamming` — the generic banded self-join behind [[simHashPairs]]
    * and image perceptual-hash dedup ([[graft.multimodal.Multimodal
    * .imageNearDupPairs]]).
    *
    * Candidates via the pigeonhole band trick: the 64 bits are cut into
    * `pieces` chunks; a pair differing in fewer than `pieces` bits cannot
    * differ in every chunk, so it shares at least one exact chunk and
    * chunk-equality bucketing has PERFECT recall for maxHamming <= pieces-1
    * (the default pieces = maxHamming + 1 guarantees it). Each candidate is
    * verified with bit_count(xor) before emitting. More pieces = more
    * recall budget but smaller chunks and hence bigger buckets — exactly
    * the banding trade-off of [[minHashLshPairs]]; callers with low-entropy
    * signatures can trade recall for bucket size by passing fewer pieces.
    *
    * Scale shape: one explode (pieces× the signature table — tiny rows)
    * and ONE hash shuffle on (band, chunk); each task then sorts its rows
    * and walks them one bucket at a time ([[bucketPairs]]): a bucket of
    * more than `maxBucketSize` rows (the stop-bucket cap) emits nothing,
    * and every other pair is verified in place. No bucket-count aggregate,
    * no anti-join, no self-join. A pair sharing k bands is found in each
    * of its uncapped ones, so a final `distinct` (the second and last
    * exchange, over verified pairs only) emits it once. Candidate volume
    * is Σ|bucket|², bounded by `maxBucketSize`·|rows| after the cap; a
    * task holds one bucket (at most `maxBucketSize` rows) at a time.
    */
  def hammingPairs(
      sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      pieces: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of range")
    val nPieces = if (pieces > 0) pieces else maxHamming + 1
    require(nPieces >= 1 && nPieces <= 64, s"pieces=$nPieces out of range")
    require(sigs.schema(sigCol).dataType == LongType,
      s"$sigCol must be a 64-bit (long) signature")
    // band j covers bits [j*64/nPieces, (j+1)*64/nPieces) — widths differ
    // by at most one bit when 64 % nPieces != 0; the pigeonhole argument
    // only needs the chunks to partition the 64 bits
    val bands = (0 until nPieces).map { j =>
      val lo = j * 64 / nPieces
      val hi = (j + 1) * 64 / nPieces
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(j).as("band"),
        shiftright(col("__sig"), lo).bitwiseAND(mask).as("chunk"))
    }
    val idType = sigs.schema(idCol).dataType
    // a null signature has no chunk, so it shares no bucket
    val banded = sigs
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("__id"), col("__sig"), explode(array(bands: _*)).as("__b"))
      .select(col("__b.band"), col("__b.chunk"), col("__id"), col("__sig"))
    val verified = StructType(Seq(StructField("a", idType),
      StructField("b", idType), StructField("hamming", IntegerType, nullable = false)))
    banded
      .repartition(col("band"), col("chunk"))
      .sortWithinPartitions("band", "chunk")
      .mapPartitions(bucketPairs(_, maxBucketSize, maxHamming))(
        org.apache.spark.sql.Encoders.row(verified))
      // each pair leaves its bucket in arbitrary order; least/greatest
      // orient it by Spark's own ordering of the id type, and ids that
      // are equal (or null) never form a pair
      .select(least(col("a"), col("b")).as("ida"),
        greatest(col("a"), col("b")).as("idb"), col("hamming"))
      .filter(col("ida") < col("idb"))
      .distinct()
  }

  /** The pairs of each (band, chunk) bucket within `maxHamming` bits, over
    * rows (band, chunk, id, sig) sorted by bucket. A bucket of more than
    * `cap` rows emits nothing; at most `cap` of its rows are held. */
  private def bucketPairs(rows: Iterator[Row], cap: Int, maxHamming: Int)
      : Iterator[Row] = {
    val in = rows.buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
      val band = in.head.getInt(0)
      val chunk = in.head.getLong(1)
      val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
      val sigs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var n = 0L
      while (in.hasNext && in.head.getInt(0) == band && in.head.getLong(1) == chunk) {
        val r = in.next()
        n += 1
        if (n <= cap) { ids += r.get(2); sigs += r.getLong(3) }
      }
      if (n > cap) Iterator.empty
      else for {
        i <- ids.indices.iterator
        j <- (i + 1 until ids.length).iterator
        h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
        if h <= maxHamming
      } yield Row(ids(i), ids(j), h)
    }
  }

  /** Cross-document repeated-span scrubbing (exact substring dedup, the
    * span-level tier of "Deduplicating Training Data Makes Language Models
    * Better"): every token covered by an `n`-token span whose shingle
    * occurs in >= `minDf` distinct documents is removed; the document is
    * rebuilt from the surviving tokens in order.
    *
    * Output: (doc, text_clean, n_kept, n_removed) — one row per input
    * document (fully-scrubbed docs emit text_clean = "").
    *
    * Scale design: positional shingles are row-local (a bound-attribute
    * transform over the token array — O(m·n) per doc, no shuffle); the
    * boilerplate set comes from one (doc,s)-distinct + hash-agg pass over
    * shingles (vocabulary-sized result, AQE broadcasts the semi join back
    * when it fits); the covered-position SET is one hash agg keyed on doc
    * (collect_set dedups in the aggregate, so its shuffle volume is
    * boilerplate-occurrence-sized — never the whole token stream); the
    * rebuild is row-local: array_except(positions, covered) is hash-based
    * O(tokens + covered) per doc and preserves token order. Nothing
    * global, nothing O(n²), and no shuffle ever carries every token:
    * span dedup at corpus scale is exactly this chain of hash aggregates.
    */
  def scrubRepeatedSpans(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    require(n >= 2 && minDf >= 2, "need n >= 2 and minDf >= 2")
    // the tokenized corpus feeds TWO arms (span index, final rebuild
    // join) and the span index feeds two (df count, coverage) — pin both
    // or the regex tokenization and span construction re-run per consumer
    val base = docs.select(col(idCol).as("doc"),
      TextAnalysis.regexTokens(col(textCol)).as("tl"))
      .localCheckpoint(false)

    // (doc, p0, s): every n-token span with its 1-based start position.
    // `tl` is a materialized attribute, so the lambda's slice reads the
    // array directly (the chunk()/NOTES lesson: never an expression tree).
    val sh = base.filter(size(col("tl")) >= n)
      .select(col("doc"), posexplode(transform(
        sequence(lit(1), size(col("tl")) - (n - 1)),
        i => concat_ws(" ", slice(col("tl"), i, lit(n))))).as(Seq("off", "s")))
      .select(col("doc"), (col("off") + 1).as("p0"), col("s"))
      .localCheckpoint(false)

    // boilerplate shingles: document frequency >= minDf
    val bp = sh.select("doc", "s").distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("s")

    // covered positions per doc, ONE row per doc (collect_set dedups
    // overlapping spans inside the aggregate — replaces the former
    // distinct + per-token anti join + collect_list/array_sort rebuild,
    // which shuffled every token of the corpus twice)
    val cov = sh.join(bp, Seq("s"), "left_semi")
      .select(col("doc"), explode(sequence(col("p0"), col("p0") + (n - 1))).as("p"))
      .groupBy("doc").agg(collect_set(col("p")).as("__cov"))

    val emptyPos = array().cast("array<int>")
    // sequence(1, 0) would count DOWN — guard the empty-token case
    val allPos = when(size(col("tl")) > 0, sequence(lit(1), size(col("tl"))))
      .otherwise(emptyPos)
    base.join(cov, Seq("doc"), "left")
      .select(col("doc"), col("tl"),
        array_except(allPos, coalesce(col("__cov"), emptyPos)).as("__keep"))
      .select(col("doc"),
        concat_ws(" ",
          transform(col("__keep"), p => element_at(col("tl"), p))).as("text_clean"),
        size(col("__keep")).cast("long").as("n_kept"),
        (size(col("tl")) - size(col("__keep"))).cast("long").as("n_removed"))
  }

  /** Edit-distance similarity join: all (a<b) pairs with
    * `levenshtein(a, b) <= maxDist`, found by q-gram PREFIX FILTERING
    * (Chaudhuri et al. SSJoin / Bayardo et al. AllPairs) and verified with
    * Spark's codegen'd `levenshtein`.
    *
    * Candidate bound: one edit destroys at most q of a string's positional
    * q-grams, so ed(a,b) ≤ t ⇒ the gram sets overlap in ≥ |G| − q·t
    * elements — equivalently, two qualifying strings MUST share a gram
    * among their (q·t+1) globally-rarest grams. Only those prefix grams
    * are indexed: the self-join is on rare grams by construction, which is
    * what keeps bucket sizes bounded at 100 TB (no "the" bucket — the
    * prefix of a common-gram-only string is still its q·t+1 rarest).
    * Strings with ≤ q·t grams (shorter than ~q·(t+1) chars) carry no count
    * bound; they fall back to one all-pairs "short" bucket so recall stays
    * PERFECT — at corpus scale short strings are routed to [[exactPairs]]
    * shapes anyway, and `maxShortBucket` fails fast if the fallback would
    * blow up. Output: (ida, idb, dist).
    */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, q: Int = 3, maxShortBucket: Int = 10000): DataFrame = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0 and q >= 1 required")
    val prefixLen = q * maxDist + 1
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .localCheckpoint(false)
    // distinct positional q-grams; `__t` is a bound attribute in the HOF
    // lambda (never an expression tree — NOTES HOF lesson)
    val grams = base
      .filter(length(col("__t")) >= q + q * maxDist) // long tier
      .select(col("__id"), explode(array_distinct(
        transform(sequence(lit(1), length(col("__t")) - (q - 1)),
          i => col("__t").substr(i, lit(q))))).as("g"))
    val freq = grams.groupBy("g").agg(count(lit(1)).as("__f"))
    val wPrefix = Window.partitionBy(col("__id")).orderBy(col("__f"), col("g"))
    val prefix = grams.join(freq, Seq("g"))
      .withColumn("__rn", row_number().over(wPrefix))
      .filter(col("__rn") <= prefixLen)
      .select(col("g"), col("__id"))
    val candLong = prefix.select(col("g"), col("__id").as("ida"))
      .join(prefix.select(col("g"), col("__id").as("idb")), Seq("g"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    // short tier: strings below the count-bound floor — all-pairs in one
    // bucket (cheap DPs), gated so a degenerate corpus fails fast
    val short = base.filter(length(col("__t")) < q + q * maxDist)
      .select(col("__id"))
    val nShort = short.limit(maxShortBucket + 1).count()
    require(nShort <= maxShortBucket,
      s"editDistancePairs short-string fallback exceeds maxShortBucket=" +
        s"$maxShortBucket rows; dedup short strings exactly instead")
    val candShort = short.select(col("__id").as("ida"))
      .crossJoin(short.select(col("__id").as("idb")))
      .filter(col("ida") < col("idb"))
    // cross-tier band: a qualifying (short, long) pair needs
    // |len_a − len_b| ≤ maxDist, so the long partner's length is strictly
    // below the boundary + maxDist. Pairing the gated short bucket against
    // only that band keeps the extra candidates ≤ |short|·|band| while
    // restoring perfect recall for boundary-straddling pairs.
    val boundaryBand = base
      .filter(length(col("__t")) >= q + q * maxDist &&
        length(col("__t")) < q + q * maxDist + maxDist)
      .select(col("__id"))
    val candCross = broadcast(short.select(col("__id").as("__s")))
      .crossJoin(boundaryBand.select(col("__id").as("__b")))
      .select(least(col("__s"), col("__b")).as("ida"),
        greatest(col("__s"), col("__b")).as("idb"))
    val cand = candLong.unionByName(candShort).unionByName(candCross)
    cand
      .join(base.select(col("__id").as("ida"), col("__t").as("__ta")), Seq("ida"))
      .join(base.select(col("__id").as("idb"), col("__t").as("__tb")), Seq("idb"))
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      // thresholded levenshtein: banded O(maxDist·n) DP with early exit
      // (returns -1 past the threshold) instead of the full O(n²) table —
      // the verification constant, not just the candidate count, respects t
      .select(col("ida"), col("idb"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }
}
