package graft.ops

import graft.GraftSuite
import org.apache.spark.sql.functions._

class DedupSpec extends GraftSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "quick brown fox jumps over the lazy dog"),     // near dup (1 word off)
    (4L, "completely different text about spark engines here"),
    (5L, "tiny"),                                        // < shingle size
    (6L, "completely different text about spark engines there")
  ).toDF("id", "text")

  test("shingles: distinct word n-grams; short docs yield empty") {
    val sh = docs.select($"id", Dedup.shingles($"text", 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(5L).isEmpty)
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).size === 7) // 9 words -> 7 trigrams, all distinct
    assert(sh(1L).distinct.size === sh(1L).size)
  }

  test("exact dedup keeps min-key survivor per content") {
    val out = Dedup.exact(docs, "text", "id").select("id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L, 4L, 5L, 6L))
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(docs, "text", "id")
    val twice = Dedup.exact(once, "text", "id")
    assert(once.select("id").as[Long].collect().sorted.toSeq
      === twice.select("id").as[Long].collect().sorted.toSeq)
  }

  test("jaccard matches hand-computed value") {
    val j = docs.filter($"id".isin(1L, 3L))
      .agg(collect_list(Dedup.shingles($"text", 3))).as[Seq[Seq[String]]]
      .collect().head
    val (a, b) = (j(0).toSet, j(1).toSet)
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    val got = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.0)
      .filter($"ida" === 1L && $"idb" === 3L)
      .select("jaccard").as[Double].collect().head
    assert(math.abs(got - expected) < 1e-12)
  }

  test("ngramJaccardPairs finds exact and near dups, skips unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical => J = 1
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(pairs.contains((4L, 6L))) // one word differs at the end
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minHashLshPairs agrees with exact jaccard on high-similarity pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "id", "text", 3, 32, 16, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(lsh === exact)
  }

  test("minHashLshPairsAgainst: only corpus×batch pairs, no internal re-pairing") {
    // corpus holds an INTERNAL near-dup pair (1,2); batch doc 10 is near
    // both; batch docs 10,11 are near each other (internal to the batch)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((1L, base), (2L, base + " ok"),
      (3L, "completely unrelated text about something else entirely here"))
      .toDF("id", "text")
    val batch = Seq((10L, base + " yes"), (11L, base + " yes sir")).toDF("id", "text")
    val pairs = Dedup.minHashLshPairsAgainst(corpus, batch, "id", "text",
        threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 10L)) && pairs.contains((2L, 10L)))
    assert(!pairs.contains((1L, 2L)), "corpus-internal pair must not re-derive")
    assert(!pairs.contains((10L, 11L)) && !pairs.contains((11L, 10L)),
      "batch-internal pair must not emit")
    assert(pairs.forall { case (a, b) => a < 10L && b >= 10L },
      "all pairs are corpus-side × batch-side")
  }

  test("minhash signature of identical texts is identical, length k") {
    val sigs = docs.filter($"id".isin(1L, 2L))
      .select(Dedup.minHashSignature(Dedup.shingles($"text", 3), 32))
      .as[Seq[Long]].collect()
    assert(sigs(0).size === 32)
    assert(sigs(0) === sigs(1))
  }

  test("simhash: identical texts equal; near dups within small hamming; unrelated far") {
    val sh = docs.select($"id", Dedup.simHash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) <= 16)
    assert(ham(sh(4L), sh(6L)) <= 16)
    assert(ham(sh(1L), sh(4L)) > 16)
  }

  test("simHashPairs verified output respects hamming bound") {
    val pairs = Dedup.simHashPairs(docs, "id", "text", maxHamming = 16)
      .select("ida", "idb", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.forall(_._3 <= 16))
  }

  test("simHashPairsExplicit equals the all-pairs Hamming join (perfect recall)") {
    // pieces = maxHamming+1 pigeonholes every qualifying pair into at least
    // one shared chunk, so the banded output must EQUAL brute force over
    // the explicit signatures — the property the DuckDB oracle relies on
    val got = Dedup.simHashPairsExplicit(docs, "id", "text", maxHamming = 8)
      .as[(Long, Long, Int)].collect().toSet
    val sigs = docs.select($"id", Dedup.simHashExplicit($"text").as("s"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb)
      if d <= 8
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // signatures use only the low 62 bits
    assert(sigs.forall { case (_, s) => s >= 0 && (s >>> 62) == 0L })
  }

  /** The four-step form [[Dedup.hammingPairs]] replaced, kept as its
    * oracle: a hot-bucket count, a broadcast anti-join dropping capped
    * buckets, a banded self-join, then distinct and the Hamming check. */
  private def hammingPairsJoin(sigs: org.apache.spark.sql.DataFrame,
      idCol: String, sigCol: String, maxHamming: Int, maxBucketSize: Int,
      pieces: Int): org.apache.spark.sql.DataFrame = {
    val nPieces = if (pieces > 0) pieces else maxHamming + 1
    val bands = (0 until nPieces).map { j =>
      val lo = j * 64 / nPieces
      val hi = (j + 1) * 64 / nPieces
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(j).as("band"), shiftright($"__sig", lo).bitwiseAND(mask).as("chunk"))
    }
    val banded = sigs.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .select($"__id", $"__sig", explode(array(bands: _*)).as("__b"))
      .select($"__id", $"__sig", $"__b.band", $"__b.chunk")
    val capped = if (maxBucketSize == Int.MaxValue) banded else {
      val hot = banded.groupBy("band", "chunk").count()
        .filter($"count" > maxBucketSize).select("band", "chunk")
      banded.join(hot, Seq("band", "chunk"), "left_anti")
    }
    val l = capped.select($"band", $"chunk", $"__id".as("ida"), $"__sig".as("siga"))
    val r = capped.select($"band", $"chunk", $"__id".as("idb"), $"__sig".as("sigb"))
    l.join(r, Seq("band", "chunk"))
      .filter($"ida" < $"idb")
      .select($"ida", $"idb", bit_count($"siga".bitwiseXOR($"sigb")).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** Seeded random signatures with planted near pairs (1..maxHamming bits
    * flipped), plus the edges both forms must agree on: a repeated id
    * with another signature, a null id and a null signature. */
  private def plantedSigs(seed: Int, n: Int, maxHamming: Int): Seq[(java.lang.Long, java.lang.Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(n)(rnd.nextLong())
    val near = base.take(n / 3).map { s =>
      (1 to 1 + rnd.nextInt(maxHamming + 1)).foldLeft(s)((x, _) => x ^ (1L << rnd.nextInt(64)))
    }
    val sigs = (base ++ near).zipWithIndex.map { case (s, i) =>
      (java.lang.Long.valueOf(i.toLong), java.lang.Long.valueOf(s)) }
    sigs ++ Seq((java.lang.Long.valueOf(0L), java.lang.Long.valueOf(base(1) ^ 1L)),
      (null, java.lang.Long.valueOf(base(2))), (java.lang.Long.valueOf(-1L), null))
  }

  private def samePairs(sigs: org.apache.spark.sql.DataFrame, maxHamming: Int,
      maxBucketSize: Int, pieces: Int): Set[org.apache.spark.sql.Row] = {
    val got = Dedup.hammingPairs(sigs, "id", "sig", maxHamming, maxBucketSize, pieces)
    val want = hammingPairsJoin(sigs, "id", "sig", maxHamming, maxBucketSize, pieces)
    assert(got.columns.toSeq === want.columns.toSeq)
    val g = got.collect()
    val w = want.collect()
    assert(g.length === g.toSet.size, "a pair was emitted twice")
    assert(g.toSet === w.toSet)
    w.toSet
  }

  test("hammingPairs equals the banded self-join it replaced, pair for pair") {
    for (seed <- Seq(1, 2, 3); maxHamming <- Seq(3, 5)) {
      val sigs = plantedSigs(seed, 240, maxHamming).toDF("id", "sig")
      // pieces = maxHamming + 1 (perfect recall), uncapped and capped
      assert(samePairs(sigs, maxHamming, Int.MaxValue, 0).nonEmpty)
      samePairs(sigs, maxHamming, 2, 0)
      // pieces = 4, the simHashPairs setting, capped and uncapped
      assert(samePairs(sigs, maxHamming, 1000, 4).nonEmpty)
      samePairs(sigs, maxHamming, Int.MaxValue, 4)
    }
    // string ids (the image screening's paths) order as Spark orders them
    val named = plantedSigs(4, 120, 3).toDF("id", "sig")
      .select(concat(lit("img/"), $"id".cast("string")).as("id"), $"sig")
    assert(samePairs(named, 3, 1000, 0).nonEmpty)
  }

  test("hammingPairs: a pair in a capped bucket is still found through an uncapped band") {
    // 20 signatures share band 0's chunk (low 16 bits zero), so that
    // bucket is over the cap of 5 and emits nothing. Pair (100, 101)
    // shares band 0 and bands 2-3, which are uncapped: it must be found.
    // Pair (102, 103) differs once in each of bands 1-3, so it shares only
    // the capped band: both forms drop it.
    val rnd = new scala.util.Random(11)
    val hot = (0 until 20).map(i => (i.toLong, rnd.nextLong() & ~0xFFFFL))
    val x = rnd.nextLong() & ~0xFFFFL
    val y = rnd.nextLong() & ~0xFFFFL
    val planted = Seq((100L, x), (101L, x ^ (1L << 20)),
      (102L, y), (103L, y ^ (1L << 17) ^ (1L << 33) ^ (1L << 49)))
    val sigs = (hot ++ planted).toDF("id", "sig")
    val pairs = samePairs(sigs, maxHamming = 3, maxBucketSize = 5, pieces = 4)
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((100L, 101L, 1)))
    assert(!pairs.exists(p => p._1 == 102L && p._2 == 103L))
    // uncapped, the band-0-only pair is found too
    assert(samePairs(sigs, 3, Int.MaxValue, 4)
      .exists(r => r.getLong(0) == 102L && r.getLong(1) == 103L))
  }

  test("simHashExplicit folds Unicode CODEPOINTS (oracle parity for non-BMP)") {
    // "🦀" is one codepoint (0x1F980) but two UTF-16 code units; DuckDB's
    // ord(string_split(text,'')) sees the codepoint, so the kernel must
    // too. A single-token doc's signature IS its token hash (every vote is
    // that token's bit), so recompute the hash here with an explicit
    // codepoint fold + the documented mix chain and demand equality.
    val token = "a🦀b" // a 🦀 b — straddles the BMP
    val sig = Seq((1L, token)).toDF("id", "text")
      .select(Dedup.simHashExplicit($"text")).as[Long].collect().head
    val h0 = token.codePoints().toArray
      .foldLeft(0L)((h, cp) => (h * 31 + cp) % 2147483648L)
    def half(x: Long): Long = {
      val h1 = (x * 2654435761L) % 2147483648L
      val h2 = h1 ^ (h1 >>> 15)
      val h3 = (h2 * 1103515245L) % 2147483648L
      h3 ^ (h3 >>> 13)
    }
    val expected = half(h0) | (half(h0 ^ 625148049L) << 31)
    assert(sig === expected)
    // and the UTF-16-unit fold would have produced something ELSE — the
    // distinction is real for this input
    val unitFold = token.toCharArray
      .foldLeft(0L)((h, c) => (h * 31 + c) % 2147483648L)
    assert(unitFold !== h0)
  }

  test("MLlib MinHashLSH variant finds the same high-similarity pairs") {
    val expected = Dedup.ngramJaccardPairs(docs, "id", "text", 3, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val mllib = DedupMllib.minHashLshPairs(docs, "id", "text",
      shingleN = 3, numHashTables = 8, maxDistance = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(mllib === expected)
    // determinism across runs (fixed seed)
    val again = DedupMllib.minHashLshPairs(docs, "id", "text",
      shingleN = 3, numHashTables = 8, maxDistance = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(again === mllib)
  }

  test("decontaminate counts distinct shared n-grams; clean docs kept with 0") {
    val train = Seq(
      (1L, "a b c d e f"),        // shares 5-grams 'a b c d e','b c d e f'
      (2L, "a b c d e x y z w v"),// shares only 'a b c d e'
      (3L, "p q r s t u"),        // clean
      (4L, "short one")           // < 5 tokens: no shingles, still a row
    ).toDF("id", "text")
    val eval = Seq((100L, "a b c d e f g")).toDF("id", "text")
    val out = Dedup.decontaminate(train, eval, "id", "text",
        shingleN = 5, minHits = 2)
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size === 4, "every train doc gets a row")
    assert(out(1L) === ((2L, 1)))  // 2 hits >= minHits 2 → contaminated
    assert(out(2L) === ((1L, 0)))  // 1 hit < minHits 2
    assert(out(3L) === ((0L, 0)))
    assert(out(4L) === ((0L, 0)))
    // duplicated eval docs must not double-count (distinct eval gram set)
    val evalDup = eval.union(eval)
    val out2 = Dedup.decontaminate(train, evalDup, "id", "text", 5, 2)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(out2(1L) === 2L)
  }

  test("paragraphDedup keeps first occurrence only and reassembles in order") {
    // paraWords = 2: doc 1 = [a b][c d][e f]; doc 2 repeats [c d] then
    // unique [x y]; doc 3 is entirely doc 1's first paragraph.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "c d x y"),
      (3L, "a b")
    ).toDF("id", "text")
    val out = Dedup.paragraphDedup(docs, "id", "text", paraWords = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((3L, 3L, "a b c d e f")))
    assert(out(2L) === ((2L, 1L, "x y")))        // "c d" first seen in doc 1
    assert(out(3L) === ((1L, 0L, "")))           // fully boilerplate, row kept
  }

  test("paragraphDedup first-occurrence order is (id, paragraph index)") {
    // the same paragraph twice INSIDE one doc: second in-doc copy drops too
    val docs = Seq((1L, "p q p q"), (2L, "p q")).toDF("id", "text")
    val out = Dedup.paragraphDedup(docs, "id", "text", paraWords = 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 1L, "p q")))
    assert(out(2L) === ((1L, 0L, "")))
  }

  test("paragraphDedup truncates the tail paragraph instead of padding") {
    val docs = Seq((1L, "a b c d e")).toDF("id", "text")
    val out = Dedup.paragraphDedup(docs, "id", "text", paraWords = 2)
      .as[(Long, Long, Long, String)].collect().head
    assert(out === ((1L, 3L, 3L, "a b c d e"))) // [a b][c d][e]
  }

  test("prefix-filtered Jaccard and containment equal the count-based exact tiers") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", lower($"text").as("text"))
    val corpus = docs.union(docs.select(($"doc_id" + 100000).as("doc_id"),
      regexp_replace($"text", "^[^ ]+ ", "").as("text")))
    val blocked = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefixed = Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefixed === blocked)
    assert(blocked.nonEmpty)
    val cBlocked = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cPrefixed = Dedup.containmentPairsPrefix(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cPrefixed === cBlocked)
    assert(cBlocked.nonEmpty)
    // and the df-capped variants agree too (capped numerator, full-size
    // denominator — the subtle part of the capped contract)
    val capBlocked = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxShingleFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capPrefixed = Dedup.containmentPairsPrefix(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5, maxShingleFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capPrefixed === capBlocked)
  }

  test("editDistancePairs finds exactly the pairs within maxDist (vs exhaustive check)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cog"),  // 1 sub vs 1
      (3L, "the quick brown fox jumped over the lazy dog"), // 1 ins vs 1
      (4L, "a completely different sentence about nothing at all"),
      (5L, "the quick brown fox leaps over sleepy dogs here")  // far from 1
    ).toDF("id", "text")
    val got = Dedup.editDistancePairs(docs, "id", "text", maxDist = 2, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    // exhaustive ground truth via the same levenshtein kernel
    val texts = docs.as[(Long, String)].collect()
    val want = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = Seq((ta, tb)).toDF("a", "b")
        .select(levenshtein($"a", $"b")).as[Int].collect().head
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 2)))
  }

  test("editDistancePairs keeps pairs that straddle the short/long tier boundary") {
    // q=3, maxDist=2 → tier boundary at q*(maxDist+1) = 9 chars.
    // "abcdefgh" (8, short tier) vs "abcdefghi" (9, long tier) are at edit
    // distance 1 — a pair generated by NEITHER the prefix index (one side
    // has no indexed grams) NOR the short bucket (one side isn't in it).
    // The cross-tier band must produce it.
    val docs = Seq(
      (1L, "abcdefgh"),              // 8 chars: short tier
      (2L, "abcdefghi"),             // 9 chars: long tier, dist 1 from #1
      (3L, "abcdefghij"),            // 10 chars: long tier, dist 2 from #1
      (4L, "abcdefghijk"),           // 11 chars: dist 3 from #1 — that PAIR excluded
      (5L, "qrstuvwx")               // 8 chars: short, far from everything
    ).toDF("id", "text")
    val got = Dedup.editDistancePairs(docs, "id", "text", maxDist = 2, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    // exhaustive ground truth
    val texts = docs.as[(Long, String)].collect()
    val want = (for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      d = Seq((ta, tb)).toDF("a", "b")
        .select(levenshtein($"a", $"b")).as[Int].collect().head
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(got.contains((1L, 2L, 1)) && got.contains((1L, 3L, 2)))
    assert(!got.contains((1L, 4L, 3)) && !got.exists(p => p._1 == 1L && p._2 == 4L))
  }

  test("editDistancePairs short-string fallback keeps perfect recall below the gram floor") {
    // all strings are shorter than q + q*t = 9 chars: no count bound holds,
    // so they pair through the short bucket, not the prefix index
    val docs = Seq((1L, "ab"), (2L, "ac"), (3L, "zzzz")).toDF("id", "text")
    val got = Dedup.editDistancePairs(docs, "id", "text", maxDist = 1, q = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1)))
    // and the fallback is gated
    val e = intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(docs, "id", "text", maxDist = 1, q = 3,
        maxShortBucket = 1)
    }
    assert(e.getMessage.contains("maxShortBucket"))
  }
}
