package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Large-scale training-data text pipeline operators over the
  * `documents` table: exact + near deduplication (hash, character
  * n-gram Jaccard, MinHash+LSH, SimHash), language id, quality
  * scoring, token counting, fingerprinting.
  *
  * Scale design notes (100 TB target):
  *  - shingling/minhashing is a narrow map (no shuffle); the only wide
  *    stages are the gram/band self-joins, which shuffle on gram/bucket
  *    keys — both are key-skew-bounded (a gram shared by all docs is a
  *    hot key; the LSH path caps the join to b buckets per doc, which
  *    is why it is the scale path and the exact gram join is the
  *    verification baseline).
  *  - all hash functions are codegen'd (built-in `md5`, the native
  *    fnv64 expression) or tight JVM kernels in mapPartitions; no
  *    Scala UDFs on the hot path.
  */
object TextOps {

  /** PMI collocation bounds — shared engine/oracle constants: pairs
    * below the count floor are hapax noise (PMI's classic failure
    * mode); the top-k keeps the result tiny and the rank total. */
  private val CollocMinCount = 3
  private val CollocTopK = 20

  /** ONE per-doc token-counting pass, parameterized by the per-word
    * counter — the shared body of the pinned-table and trained-table
    * BPE counts (review r15: two verbatim copies of the counting rule
    * could drift independently). One narrow pass; the per-partition
    * word memo bounds `countOf` calls by the distinct-word count, not
    * the token stream. */
  private def tokenCounts(s: SparkSession, dir: String)(
      countOf: String => Int): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, Integer]()
        it.map { case (id, lang, text) =>
          var words = 0
          var n = 0
          // limit -1 keeps trailing empty tokens, matching the oracle's
          // string_split ('a '.split(' ') alone would drop the trailing
          // '' and n_words would diverge on trailing-space text; the
          // empty word BPE-encodes to zero symbols in both engines)
          text.split(" ", -1).foreach { w =>
            words += 1
            var c = memo.get(w)
            if (c == null) { c = Integer.valueOf(countOf(w)); memo.put(w, c) }
            n += c.intValue()
          }
          (id, lang, words, n)
        }
      }.toDF("doc_id", "lang", "n_words", "n_bpe_tokens")
  }

  /** Per-doc BPE token counts via the pinned-table
    * [[graft.functions.Bpe]] kernel. */
  private def bpeCounts(s: SparkSession, dir: String): DataFrame =
    tokenCounts(s, dir)(graft.functions.Bpe.count)

  /** Train a BPE merge table FROM the corpus (`text_bpe_train`) —
    * classic agglomerative BPE (Sennrich et al. 2016): start from
    * codepoint segmentation of the (word, count) vocabulary, then k
    * times pick the most frequent adjacent symbol pair (ties: (l, r)
    * lexicographic) and merge every non-overlapping occurrence.
    * Variant note: SELF-pairs (l == r) are excluded from selection in
    * both engines — see the in-loop comment for why the SQL twin
    * cannot reproduce the kernel on long identical-symbol runs.
    * Returns the learned table (rank, lft, rgt, n) — the model a
    * tokenizer like [[graft.functions.Bpe]] pins as its `Merges`.
    *
    * Determinism: pair counts are exact integer sums and the argmax
    * has a complete (n DESC, l ASC, r ASC) order; the oracle unrolls
    * the k iterations as CTE chains over the spaced-string form
    * (each merge = the SqlPasses multi-pass replace, the [[graft.functions.Bpe]]
    * abutting-occurrence argument — pair counting counts POSITIONS,
    * replace merges non-overlapping left-to-right, exactly this
    * kernel's semantics).
    *
    * Scale (100 TB): training state is VOCABULARY-sized, never
    * corpus-sized — one (word, count) aggregation up front, then per
    * iteration one narrow flatMap over the segmented vocab, one
    * (l, r) count shuffle, and a 1-row argmax collect (the kmeans
    * plan-time tier); the segmentation update is a narrow map.
    * Lineage is truncated each iteration via
    * [[graft.operators.Checkpoints.truncate]] (local blocks, or
    * reliable files under `spark.graft.checkpoint.reliable`). */
  private[graft] def bpeTrain(s: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    import s.implicits._
    bpeModel(s, dir, k).toDF("rank", "lft", "rgt", "n").orderBy("rank")
  }

  /** Session-scoped memo of the TRAINED tokenizer models (VERDICT r16
    * #2): `text_bpe_train`, `text_bpe_apply` and
    * `pipe_pack_sequences_trained` all consume the SAME deterministic
    * k-merge table, and each previously re-ran the full driver-loop
    * training (k iterations of vocab aggregation + argmax collect +
    * checkpoint) — nine retrains per bench run, the exact allocation
    * shape that amplified the r16 long-session degradation. The memo
    * VALUE is the collected model (k rows / a vocab-sized piece map) —
    * plain driver memory, NO persisted blocks — so unlike
    * lpaLabels/tfStage there is nothing to pin and a blanket block
    * sweep cannot invalidate it; the lifecycle hooks are the same
    * (purge on stopped session, explicit [[evictTokenizerModels]]).
    * Keys carry every input that changes the model: the data dir, k,
    * and (unigram) the seed-vocab cap conf read at call time. */
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int), Vector[(Int, String, String, Long)]]()
  private val unigramMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, Int), Vector[(String, Long, Long)]]()
  // spec hooks: count ACTUAL training runs so TokenizerMemoSpec can pin
  // that a second consumer serves from the memo instead of retraining
  private[graft] val bpeTrainRuns = new java.util.concurrent.atomic.AtomicLong
  private[graft] val unigramTrainRuns = new java.util.concurrent.atomic.AtomicLong

  private[graft] def bpeModel(s: SparkSession, dir: String,
      k: Int = 8): Vector[(Int, String, String, Long)] = {
    graft.operators.Checkpoints.purgeStopped(bpeMemo)(_._1)
    bpeMemo.computeIfAbsent((s, dir, k), { _ =>
      bpeTrainRuns.incrementAndGet()
      bpeTrainModel(s, dir, k)
    })
  }

  /** Drop the memoized trained models of (session, dir) — the
    * evictTfStage sibling; next consumer retrains. Values hold no
    * blocks, so eviction is a plain map removal. */
  def evictTokenizerModels(s: SparkSession, dir: String): Unit = {
    bpeMemo.keySet().removeIf(k => k._1 == s && k._2 == dir)
    unigramMemo.keySet().removeIf(k => k._1 == s && k._2 == dir)
  }

  private def bpeTrainModel(s: SparkSession, dir: String,
      k: Int): Vector[(Int, String, String, Long)] = {
    import s.implicits._
    val vocab = docs(s, dir)
      .select(explode(split(col("text"), " ", -1)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
    // truncate the INITIAL segmentation too: the corpus-sized (word,
    // count) aggregation is training's one heavy stage, and without
    // this it executes twice (iteration 1's argmax + the first lazy
    // checkpoint's materialization) — review r14 pass 3
    var seg = graft.operators.Checkpoints.truncate(
        vocab.map { case (w, c) =>
          (graft.functions.Bpe.baseSymbols(w), c) }.toDF("syms", "cnt"))
      .as[(Vector[String], Long)]
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    (1 to k).foreach { i =>
      if (!exhausted) {
        // SELF-PAIR merges (l == r) are EXCLUDED, in both engines: the
        // oracle's multi-pass replace cannot reproduce the kernel's
        // left-to-right scan on runs of >= 6 identical symbols (the
        // resume-after-match strands every third symbol — review r14
        // pass 3), so the trained variant restricts selection to
        // l <> r. Deterministic and domain-general; documented where
        // the merge table's consumers read it.
        val top = seg.flatMap { case (syms, c) =>
            (0 until syms.length - 1).map(j => (syms(j), syms(j + 1), c)) }
          .toDF("l", "r", "c")
          .filter(col("l") =!= col("r"))
          .groupBy("l", "r").agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("l").asc, col("r").asc)
          .limit(1).collect().headOption
        top match {
          case None =>
            // pair supply exhausted (fully merged / single-symbol
            // vocab): stop — the oracle's empty t$it CTE likewise
            // stops contributing rows, so shapes agree
            exhausted = true
          case Some(row) =>
            val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((i, l, r, n))
            seg = graft.operators.Checkpoints.truncate(
                seg.map { case (syms, c) =>
                  (graft.functions.Bpe.mergePass(syms, l, r), c) }.toDF("syms", "cnt"))
              .as[(Vector[String], Long)]
        }
      }
    }
    merges.result().toVector
  }

  /** Encode the corpus WITH the table [[bpeTrain]] just learned
    * (`text_bpe_apply`) — the end-to-end in-engine tokenizer loop:
    * train k merges, broadcast the learned (lft, rgt) sequence into
    * the [[graft.functions.Bpe]] kernel primitives, and emit per-doc
    * token counts exactly like the pinned-table `text_bpe_tokens`.
    * The trained table is k rows — a model-sized broadcast (the
    * kmeans-centroid tier), so the encode pass stays one narrow
    * mapPartitions with a per-partition word memo bounding kernel work
    * by distinct words, not the token stream. */
  private[graft] def bpeApplyCounts(s: SparkSession, dir: String): DataFrame = {
    val table = bpeModel(s, dir).map(m => (m._2, m._3))
    val bc = s.sparkContext.broadcast(table)
    tokenCounts(s, dir) { w =>
      bc.value.foldLeft(graft.functions.Bpe.baseSymbols(w)) {
        (acc, m) => graft.functions.Bpe.mergePass(acc, m._1, m._2)
      }.length
    }
  }

  /** Train a unigram-LM piece vocabulary FROM the corpus
    * (`text_unigram_train`) — the SentencePiece-style complement of
    * [[bpeTrain]] (Kudo 2018), as hard-EM:
    *  - SEED: every substring occurrence of the (word, freq) vocab up
    *    to [[graft.functions.UnigramLm.MaxPiece]] chars, frequency-
    *    weighted; probabilities = lattice numerators c·2^20 div T;
    *  - E-step: Viterbi-segment each distinct word under the current
    *    model ([[graft.functions.UnigramLm.viterbi]] — broadcast,
    *    model-sized); piece usage counts are frequency-weighted
    *    exact integer sums;
    *  - M-step: new counts = usage, plus a +1 single-char floor so
    *    every corpus character stays segmentable; unused multi-char
    *    pieces PRUNE themselves (count 0 → dropped) — the EM's
    *    vocabulary shrink;
    *  - [[graft.functions.UnigramLm.Iters]] iterations, unrolled in
    *    the oracle as DP-position CTE chains (the vec_kmeans
    *    doctrine; prototyped in DuckDB against a Python replica
    *    before this Scala existed).
    *
    * Scale (100 TB): training state is VOCABULARY-sized — one
    * (word, freq) aggregation up front (checkpoint-truncated), per
    * iteration one narrow Viterbi flatMap over the distinct vocab +
    * one piece-keyed count shuffle, and a model-sized collect (the
    * kmeans-centroid tier). The seed substring table is
    * distinct-words × ~MaxPiece·len pieces; a boilerplate-heavy real
    * corpus bounds it with `spark.graft.unigram.maxSeedVocab` (> 0
    * keeps the top-N seed pieces by (count, piece) plus all single
    * chars — SentencePiece's own frequency-threshold seeding; default
    * 0 = unlimited for exact oracle parity). */
  private[graft] def unigramModel(s: SparkSession, dir: String): Vector[(String, Long, Long)] = {
    graft.operators.Checkpoints.purgeStopped(unigramMemo)(_._1)
    // the seed cap changes the model, so it is part of the memo key
    // (UnigramLmSpec trains capped and uncapped in one session)
    val cap = s.conf.get("spark.graft.unigram.maxSeedVocab", "0").toInt
    unigramMemo.computeIfAbsent((s, dir, cap), { _ =>
      unigramTrainRuns.incrementAndGet()
      // the cap is PASSED, not re-read: a concurrent conf change
      // between the key read above and training would otherwise store
      // a model trained under one cap beneath another cap's key
      // (review r17)
      unigramTrainModel(s, dir, cap)
    })
  }

  private def unigramTrainModel(s: SparkSession, dir: String,
      cap: Int): Vector[(String, Long, Long)] = {
    import s.implicits._
    import graft.functions.UnigramLm.{MaxPiece, Lattice, Iters}
    val words = graft.operators.Checkpoints.truncate(
        docs(s, dir)
          .select(explode(split(col("text"), " ", -1)).as("w"))
          .filter(length(col("w")) >= 1)
          .groupBy("w").agg(count(lit(1)).as("f")))
      .as[(String, Long)]
    val seed0 = words.flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(MaxPiece, w.length - i)
        } yield (w.substring(i, i + l), f)
      }.toDF("piece", "c").groupBy("piece").agg(sum("c").as("c"))
    val seedDf =
      if (cap <= 0) seed0
      else seed0.orderBy(col("c").desc, col("piece").asc).limit(cap)
        .unionByName(seed0.filter(length(col("piece")) === 1))
        .groupBy("piece").agg(max("c").as("c"))
    val seed = seedDf.as[(String, Long)].collect() // vocab-sized model tier
    // corpus character set = the seed's single-char pieces (chars are
    // always seeded: every char is a substring occurrence)
    val chars = seed.iterator.map(_._1).filter(_.length == 1).toSet
    def toNum(cnt: Iterable[(String, Long)]): Map[String, Long] = {
      val t = cnt.iterator.map(_._2).sum
      cnt.iterator.map { case (p, c) => p -> c * Lattice / t }.toMap
    }
    var model = toNum(seed)
    var counts = Map.empty[String, Long]
    (1 to Iters).foreach { _ =>
      val bc = s.sparkContext.broadcast(model)
      val usage = words.flatMap { case (w, f) =>
          graft.functions.UnigramLm.viterbi(w, bc.value).map(p => (p, f))
        }.toDF("piece", "c").groupBy("piece").agg(sum("c").as("c"))
        .as[(String, Long)].collect().toMap
      counts = (usage.keySet ++ chars).iterator.map { p =>
        p -> (usage.getOrElse(p, 0L) + (if (p.length == 1) 1L else 0L))
      }.toMap
      model = toNum(counts)
    }
    counts.toVector.sortBy(_._1).map { case (p, c) => (p, c, model(p)) }
  }

  /** `text_unigram_train`'s DataFrame form: (piece, cnt, p_num). */
  private[graft] def unigramTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unigramModel(s, dir).toDF("piece", "cnt", "p_num").orderBy("piece")
  }

  /** Encode the corpus WITH the just-trained unigram model
    * (`text_unigram_apply`) — Viterbi decode under the broadcast
    * final model, per-partition word memo, exactly the
    * [[bpeApplyCounts]] shape. */
  private[graft] def unigramApplyCounts(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModel(s, dir).map(m => m._1 -> m._3).toMap
    val bc = s.sparkContext.broadcast(model)
    tokenCounts(s, dir)(w => graft.functions.UnigramLm.viterbi(w, bc.value).length)
      .withColumnRenamed("n_bpe_tokens", "n_unigram_tokens")
  }

  /** Document corpus scan — the BARE reader. Fan-out is applied
    * selectively at the expensive fused-kernel call sites (the MinHash
    * signature stage below), NOT here: a measured fresh-JVM A/B with
    * fan-out on and off (OPTIMIZATION_r21.md) showed the wholesale exchange
    * costs 1.4–2.9× on every cheap per-doc kernel row (text_tokens
    * 0.21→0.36 s, dedup_exact_hash 0.35→0.74 s, text_doc_freq
    * 0.47→0.97 s …) while only kernels whose per-doc work dwarfs the
    * exchange win from it (dedup_minhash_lsh 2.31→1.61 s). At 100 TB
    * the scan plans >= cores partitions and FanOut is a no-op either
    * way — the placement only matters at single-row-group bench scale,
    * so it sits exactly where the kernel cost justifies it. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** The hamming ≤ 3 near-dup pair graph over the corpus — the edge
    * input of [[GraphOps.triangles]] (`graph_triangles`). */
  private[graft] def simhashPairsForGraph(s: SparkSession, dir: String): DataFrame =
    simhashPairs(docs(s, dir), 3)

  /** Distinct character 3-grams per doc as a long (doc_id, gram) table. */
  private def gramTable(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(expr(
          "array_distinct(transform(sequence(1, greatest(length(text)-2, 1)), i -> substring(text, i, 3)))"))
          .as("gram"))

  /** 64-bit SimHash fingerprints of the documents — JVM kernel
    * ([[graft.functions.MinHash.simhash64]]); bit-identical to the
    * equivalent HOF expression, which is interpreted (no codegen) and
    * was ~60x slower (SimhashExprParitySpec pins the equivalence). */
  private[graft] def simhashes(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, graft.functions.MinHash.simhash64(text))
      })
      .toDF("doc_id", "simhash")
  }

  /** SimHash pairs within `maxHamming` (< 4): banded candidate join +
    * exact xor-popcount check. CANDIDATE-complete by pigeonhole over
    * four 16-bit bands (a pair within hamming 3 always shares a band),
    * and — unlike the MinHash path — EXACT even on overflowing
    * buckets: 16-bit bands give only 65,536 buckets per band, so a
    * boilerplate cluster larger than `spark.graft.lsh.maxBucketGroups`
    * distinct fingerprints WILL overflow at corpus scale, and instead
    * of skipping overflow groups (the old documented recall loss) the
    * bucket is recursively SUB-SPLIT on the fingerprint's free bits
    * ([[graft.operators.SimHashBuckets]]) — the same pigeonhole
    * argument one level down, so capped output ≡ uncapped output with
    * pairwise width ≤ cap² at every level. The committed
    * bench/simhash_probe artifact (graft.SimhashCapProbe) pins the
    * identity at 1M docs with the cap engaged. */
  private[graft] def simhashPairs(d: DataFrame, maxHamming: Int): DataFrame =
    fingerprintPairs(simhashes(d), maxHamming)

  /** The banded pair machinery over ANY (doc_id, simhash) 64-bit
    * fingerprint table — shared by text SimHash and the image dHash
    * (`mm_phash_pairs`): the pigeonhole/sub-split argument depends
    * only on the key being 64 bits, not on what hashed into it. */
  private[graft] def fingerprintPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < 4, "4-band pigeonhole covers hamming <= 3")
    val s = sh.sparkSession
    import s.implicits._
    val bandCols = array((0 until 4).map(b =>
      shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)
    // In-bucket generation instead of a band self-join: a hot 16-bit
    // band value (constant-ish fingerprints) would make the equi-join
    // quadratic. Members are grouped by full fingerprint — equal
    // fingerprints (hamming 0) expand to pairs in band 0 only, the
    // pairwise hamming check runs over one representative per distinct
    // fingerprint (sub-split past the cap), and a pair is emitted only
    // in its first matching band, which also replaces the old
    // cross-band `.distinct()` shuffle. Pair emission is a LAZY
    // iterator — nothing pair-shaped is buffered.
    val kMax = maxHamming
    val kCap = graft.operators.LshBuckets.maxBucketGroups(s)
    sh.select(col("doc_id"), col("simhash"),
        posexplode(bandCols).as(Seq("band", "bval")))
      .as[(Long, Long, Int, Long)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroups { (key: (Int, Long), it: Iterator[(Long, Long, Int, Long)]) =>
        val members = it.map(r => (r._1, r._2)).toArray.sortBy(_._1)
        graft.operators.SimHashBuckets.pairs(key._1, members, kMax, kCap)
      }
      .toDF("ida", "idb", "hamming")
      .orderBy("ida", "idb")
  }

  /** Exact per-pair 3-gram Jaccard for an OUTPUT-BOUNDED candidate set
    * (the LSH path): attach both texts with two joins against the
    * (doc_id, text) table, then compute the exact string-gram Jaccard
    * per pair in the JVM — no corpus-wide gram explosion, shuffle, or
    * aggregation at all. Integer intersection/union make the division
    * exact, so the HALF_UP 6-digit round matches the SQL oracle
    * bit-for-bit. */
  private def jaccardPairsExact(s: SparkSession, cands: DataFrame, d: DataFrame,
      minJ: Double): DataFrame = {
    import s.implicits._
    val texts = d.select(col("doc_id"), col("text"))
    cands
      .join(texts.select(col("doc_id").as("ida"), col("text").as("ta")), "ida")
      .join(texts.select(col("doc_id").as("idb"), col("text").as("tb")), "idb")
      .select(col("ida"), col("idb"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
      .mapPartitions { rows =>
        // a doc appears in MANY candidate pairs (on a near-all-pairs
        // corpus, ~n of them): memoize its gram set per partition
        // instead of re-shingling per pair. The memo is LRU-bounded
        // (MaxMemoGrams total cached grams, ~50 MB) so a partition
        // holding candidate pairs over most of a corpus shard can
        // never accumulate corpus-shaped memory; candidate runs are
        // clustered by ida after the joins, which is exactly the
        // access pattern an LRU keeps cheap (GramMemoSpec pins the
        // bound on an adversarial all-distinct partition).
        val cache = new GramMemo(MaxMemoGrams)
        rows.map { case (ida, idb, ta, tb) =>
          val ga = cache.get(ida, ta)
          val gb = cache.get(idb, tb)
          // iterate the smaller set against the larger
          val (sm, lg) = if (ga.size <= gb.size) (ga, gb) else (gb, ga)
          var i = 0
          val it = sm.iterator()
          while (it.hasNext) if (lg.contains(it.next())) i += 1
          (ida, idb,
            graft.functions.Num.roundHalfUp(i.toDouble / (ga.size + gb.size - i), 6))
        }
      }
      .toDF("ida", "idb", "jac")
      .filter(col("jac") >= minJ)
  }

  /** Per-task budget for [[GramMemo]]: total cached 3-grams across all
    * memoized docs (≈ 100 bytes per cached gram with String + HashSet
    * overhead → ~50 MB per task). */
  private[graft] val MaxMemoGrams: Long = 512L * 1024

  /** LRU-bounded per-partition doc→gram-set memo for the exact-Jaccard
    * verification pass. Access-ordered; once the total cached gram
    * count exceeds the budget, least-recently-used entries are evicted
    * (always keeping the two entries of the in-flight pair, so a
    * just-returned set is never resident-evicted mid-comparison —
    * callers hold the reference either way, eviction only drops the
    * map's pointer). The memo is purely an optimization: a miss
    * re-shingles, semantics are unchanged. */
  private[graft] final class GramMemo(maxGrams: Long) {
    private var total = 0L
    private val map =
      new java.util.LinkedHashMap[Long, java.util.HashSet[String]](256, 0.75f, true)

    def get(id: Long, text: String): java.util.HashSet[String] = {
      var g = map.get(id)
      if (g == null) {
        g = graft.functions.Num.gramSet(text)
        map.put(id, g)
        total += g.size
        // evict LRU down to budget; the two most-recent entries (this
        // pair) are at the access-order tail and never considered
        while (total > maxGrams && map.size > 2) {
          val eldest = map.entrySet().iterator().next()
          total -= eldest.getValue.size
          map.remove(eldest.getKey)
        }
      }
      g
    }

    private[graft] def cachedGrams: Long = total
    private[graft] def entries: Int = map.size
  }

  // MinHash parameters: k = b*r signature; with r=4, b=32 the candidate
  // probability at j=0.8 is 1-(1-0.8^4)^32 ≈ 1-5e-8 — effectively exact
  // recall at the 0.8 threshold while only shuffling b band keys per doc.
  private val K = 128
  private val R = 4
  private val B = 32

  /** Default cap on DISTINCT signatures compared pairwise within one
    * LSH band bucket — see [[graft.operators.LshBuckets]] for the full
    * cap semantics (configurable via `spark.graft.lsh.maxBucketGroups`,
    * deterministic overflow skip by ascending min doc id, stderr note;
    * the recall-loss overflow mode applies only to the probabilistic
    * MinHash/vector paths — SimHash sub-splits exactly instead,
    * [[graft.operators.SimHashBuckets]]). */
  private[graft] val MaxBucketGroups = graft.operators.LshBuckets.DefaultMaxBucketGroups

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // Exact dedup via hash-groupBy: canonical doc per md5 of the
    // normalized key (here: 40-char prefix), first-wins by doc_id.
    "dedup_exact_hash" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("key_hash", md5(substring(col("text"), 1, 40)))
        .groupBy("key_hash")
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
        .orderBy("key_hash")),

    // Exact character-3gram Jaccard near-dup pairs via PREFIX FILTERING
    // (AllPairs/PPJoin, Bayardo et al. 2007 / Xiao et al. 2008): under
    // a global rarest-first gram order, two docs with J >= t must share
    // a gram inside both docs' prefixes of length |g| - ceil(t*|g|) + 1.
    // The naive gram self-join is quadratic in a hot gram's document
    // frequency ("the" appears everywhere) and melts down at scale;
    // prefixes are by construction the RAREST ~20% of each doc's grams,
    // so the candidate join is output-bounded. Exactness is unchanged:
    // candidates are a provable superset of true pairs, each verified
    // with the exact per-pair Jaccard.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val grams = gramTable(d)
      // global canonical order: ascending document frequency, gram asc
      val freq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      val sized = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("gram").asc)
      val prefixes = grams
        .join(freq, "gram")
        .withColumn("pos", row_number().over(w))
        .join(sized, "doc_id")
        .filter(col("pos") <= col("n") - ceil(col("n") * 0.8) + 1)
        .select(col("doc_id"), col("gram"), col("pos"), col("n"))
      val pa = prefixes.select(col("doc_id").as("ida"), col("gram"),
        col("pos").as("posa"), col("n").as("na"))
      val pb = prefixes.select(col("doc_id").as("idb"), col("gram").as("gramb"),
        col("pos").as("posb"), col("n").as("nb"))
      // PPJoin positional filter: a shared prefix gram at positions
      // (posa, posb) can only begin an overlap of at most
      // 1 + min(na-posa, nb-posb); J >= 0.8 needs overlap >=
      // alpha = ceil(0.8/1.8 * (na+nb)) = ceil(4(na+nb)/9), computed in
      // integer arithmetic so float rounding can never overshoot alpha
      // (which would drop a true pair). A qualifying pair always passes
      // at its FIRST shared prefix gram, so filtering per join row
      // before the distinct is exact — and cuts both the join output
      // and the distinct shuffle ~3-7x on near-all-pairs corpora.
      val alpha = floor(((col("na") + col("nb")) * 4 + 8) / lit(9)).cast("long")
      val cands = pa.join(pb,
          col("gram") === col("gramb") && col("ida") < col("idb") &&
            (lit(1) + least(col("na") - col("posa"), col("nb") - col("posb"))) >= alpha)
        .select("ida", "idb").distinct()
      jaccardPairsExact(s, cands, d, 0.8).orderBy("ida", "idb")
    }),

    // MinHash + LSH banding: signature of K=128 permutation min-hashes,
    // B=32 bands of R=4 rows; bucket-join for candidates, then exact
    // Jaccard verification. Same output contract as dedup_ngram_jaccard
    // — the LSH path is the 100TB-scale route (no full gram self-join).
    "dedup_minhash_lsh" -> ((s, dir) =>
      minhashNearDupPairs(s, dir).orderBy("ida", "idb"))) ++ queriesTail

  /** Session memo of the MinHash SIGNATURE table (doc_id, sig8, bhs)
    * — the fingerprint index of the near-dup family, the r17
    * detect-once doctrine applied one stage EARLIER than
    * [[GraphOps]]' edgeMemo (which memoizes the whole simhash pair
    * join for the graph consumers): within one session
    * `dedup_minhash_lsh`, `pipe_clean_corpus` and `pipe_full_curation`
    * each re-ran the identical K=128-permutation signature build per
    * call. Only the SIGNATURES memoize — bucketing, candidate
    * generation and the exact-Jaccard verify (the parts whose output
    * IS a row's answer) still execute per call. Same pinned-eager-
    * checkpoint discipline as edgeMemo/tfStage. */
  private val sigMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  /** Drop the memoized signature table of (session, dir). */
  def evictMinhashSigs(s: SparkSession, dir: String): Unit =
    Option(sigMemo.remove((s, dir))).foreach(
      graft.operators.Checkpoints.unpinAndUnpersist(_))

  private def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.MinHash
    graft.operators.Checkpoints.purgeStopped(sigMemo)(_._1)
    sigMemo.computeIfPresent((s, dir), { (_, e) =>
      if (!graft.operators.Checkpoints.stale(e)) e
      else { graft.operators.Checkpoints.unpinAndUnpersist(e); null }
    })
    sigMemo.computeIfAbsent((s, dir), { _ =>
      val kK = K; val kR = R; val kB = B
      // The K=128-permutation signature build is the one per-doc kernel
      // expensive enough to justify a fan-out exchange when the scan
      // cannot feed the cores (measured: 2.31 → 1.61 s min wall at
      // sf0.1; the cheap kernels keep the bare scan — see [[docs]])
      val df = graft.operators.Checkpoints.pinCheckpointed(
        graft.operators.Checkpoints.truncate(
          graft.operators.FanOut(
              docs(s, dir).select(col("doc_id"), col("text")))
            .as[(Long, String)]
            .mapPartitions(_.map { case (id, text) =>
              val sig = MinHash.signature(MinHash.gramHashes(text), kK)
              // byte-packed signature (16 longs) rides the band shuffle
              // in place of the full 128-long signature (3x narrower
              // rows)
              (id, MinHash.packBytes(sig), MinHash.bandHashes(sig, kR, kB))
            })
            .toDF("doc_id", "sig8", "bhs")))
      graft.operators.Checkpoints.buildPinned(df) {
        df.count()
        df
      }
    })
  }

  /** Verified near-dup pairs via MinHash LSH, unsorted — the shared
    * stage behind `dedup_minhash_lsh` (which only adds the output sort)
    * and `pipe_clean_corpus` (which consumes the pair set and needs no
    * sort — a sort here would cost an extra execution pass for range-
    * bound sampling). */
  private[graft] def minhashNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    locally {
      import s.implicits._
      import graft.functions.MinHash
      val d = docs(s, dir)
      val kK = K
      val sigDs = minhashSigs(s, dir)
      // Candidate pairs are generated and filtered INSIDE each band
      // bucket (flatMapGroups): only (band, bandHash) bucket rows
      // shuffle -- never the O(candidates) pair set. Cross-band
      // duplicates are dropped by the first-matching-band rule (a pair
      // is emitted only in its lowest matching band), and the
      // 128-component signature estimate prunes to the j >= ~0.72
      // shell with an early-exit compare before the exact gram-join
      // verification. At j=0.8 the estimate is Binomial(128, 0.8):
      // P(< 0.72*128) ~ 1e-4, so oracle parity is preserved; the
      // j ~ 0.5 collision mass is rejected in O(few comparisons).
      // The band-hash array rides the bucket shuffle ONLY for the
      // first-matching-band test, which in band b never reads past
      // index b: both members of a (b, bh) bucket share bhs(b), so the
      // first-match scan terminates at fb <= b. Shipping just the
      // bhs[0..band] prefix (avg (B+1)/2 of B entries) cuts ~40% of
      // this exchange's bytes with an identical emitted pair set
      // (guide §2.3, "shuffle fewer bytes").
      val exploded = sigDs
        .select(col("doc_id"), col("sig8"), col("bhs"),
          posexplode(col("bhs")).as(Seq("band", "bh")))
        .select(col("band"), col("bh"), col("doc_id"), col("sig8"),
          slice(col("bhs"), lit(1), col("band") + 1).as("bhs"))
        .as[(Int, Long, Long, Array[Long], Array[Long])]
      val minMatches = math.ceil(0.72 * K).toInt
      // In-bucket candidate generation is grouped by FULL signature
      // before any pairwise work: identical signatures (the degenerate
      // hot-bucket case — near-identical boilerplate) are expanded to
      // pairs directly in band 0 (first-matching-band for equal band
      // hashes) with zero signature compares, and the pairwise loop
      // runs over one representative per distinct signature, capped
      // (LshBuckets). Matching representatives expand to member
      // cross-pairs, so the emitted pair set is IDENTICAL to the
      // uncapped per-member loop whenever the cap is not hit — and the
      // expansion is a LAZY iterator, so a degenerate identical-doc
      // bucket streams its O(n²) pairs without executor buffering.
      val kCap = graft.operators.LshBuckets.maxBucketGroups(s)
      val cands = exploded
        .groupByKey(r => (r._1, r._2))
        .flatMapGroups { (key: (Int, Long), it: Iterator[(Int, Long, Long, Array[Long], Array[Long])]) =>
          val band = key._1
          // member signature = (packed sig8 for grouping/verify, band
          // hashes for the first-matching-band test)
          val members = it.map(r => (r._3, (r._4, r._5))).toArray.sortBy(_._1)
          graft.operators.LshBuckets.pairs[(Array[Long], Array[Long]), (Long, Long)](
            band, members,
            groupKey = m => scala.collection.immutable.ArraySeq.unsafeWrapArray(m._1),
            cap = kCap, tag = "minhash LSH",
            matchRep = (a, b) => {
              var fb = 0
              while (a._2(fb) != b._2(fb)) fb += 1
              if (fb == band &&
                  MinHash.packedMatches(a._1, b._1, kK, minMatches) >= minMatches)
                Some((ia, ib) => (ia, ib))
              else None
            },
            equalEmit = (ia, ib) => (ia, ib))
        }
        .toDF("ida", "idb")
      jaccardPairsExact(s, cands, d, 0.8)
    }
  }

  /** Continuation of [[queries]] (the Map is split around the shared
    * LSH stage definition above). */
  /** The declarative (explode + double-aggregate + broadcast-LUT)
    * entropy form — the gate query's INDEPENDENT in-engine arithmetic
    * twin: `text_entropy` itself runs the per-doc kernel
    * ([[graft.streaming.DocsStream.entropyStream]]), and
    * DocsStreamSpec pins this form bit-identical to it, so the gate
    * row is checked three ways (kernel, this aggregate, the DuckDB
    * oracle). Every count and doc total is ≤ the shared prefix-window
    * cap (`spark.graft.entropy.window`, default 1023 — VERDICT r18
    * task 4), so the LUT is the CONSTANT domain 1..window —
    * construction is fully lazy. */
  private[graft] def entropyAggregate(s: SparkSession, dir: String,
      window: Int = graft.streaming.DocsStream.DefaultEntropyWindow): DataFrame = {
    import s.implicits._
    val chars = docs(s, dir)
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(1), least(length(col("text")), lit(window)))).as("j"),
        col("text"))
      .select(col("doc_id"), expr("substring(text, j, 1)").as("ch"))
    val cnt = graft.operators.Checkpoints.truncate(
      chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c")))
    val nn = cnt.groupBy("doc_id").agg(sum(col("c")).as("n"))
    val lut = (1L to window.toLong).map(v =>
      (v, graft.functions.FixedLog.log2Fixed(BigInt(v), BigInt(1))))
      .toDF("v", "l2")
    val cl = cnt.join(broadcast(lut), cnt("c") === col("v"))
      .groupBy("doc_id").agg(sum(col("c") * col("l2")).as("cl"))
    nn.join(broadcast(lut.withColumnRenamed("v", "nv")
          .withColumnRenamed("l2", "l2n")), col("n") === col("nv"))
      .join(cl, "doc_id")
      .withColumn("ent_num", col("n") * col("l2n") - col("cl"))
      .select(col("doc_id"), col("n"), col("ent_num"),
        round(col("ent_num").cast("double") /
          (col("n").cast("double") * lit(1048576.0)), 6).as("entropy"))
      .orderBy("doc_id")
  }

  private def queriesTail: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SimHash (64-bit) over word tokens: per-bit majority vote of
    // fnv64(token) — oracle replicates the byte-fold + majority vote
    // in SQL (unsigned-64 arithmetic over HUGEINT).
    "dedup_simhash" -> ((s, dir) =>
      simhashes(docs(s, dir)).orderBy("doc_id")),

    // Near-duplicate CLUSTERING: SimHash pairs → connected components
    // (min-label propagation + pointer jumping, O(log diameter)
    // shuffle rounds) → (doc, canonical cluster id). The step after
    // pair generation in a real dedup pipeline: transitive closure
    // groups A~B~C even when A-C was never a candidate pair.
    "dedup_cluster_cc" -> ((s, dir) => {
      val pairs = simhashPairs(docs(s, dir), 3).select("ida", "idb")
      graft.operators.ConnectedComponents.run(s, pairs, "ida", "idb")
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // Distributed-loop twin of dedup_cluster_cc: identical edges and
    // oracle, but the driver union-find fast path is bypassed so the
    // iterative min-label/pointer-jump loop — the path that actually
    // runs at 100 TB, where pair volume exceeds the local threshold —
    // keeps its own correctness row and headline bench signal even on
    // sf-scale fixtures whose pair count is under the threshold.
    "dedup_cluster_cc_dist" -> ((s, dir) => {
      val pairs = simhashPairs(docs(s, dir), 3).select("ida", "idb")
      graft.operators.ConnectedComponents.run(s, pairs, "ida", "idb",
          forceDistributed = true)
        .toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    }),

    // The dedup POLICY step: within each near-dup cluster keep exactly
    // one representative — the longest document, ties to the lowest
    // doc_id (production pipelines keep the highest-quality member;
    // length is the deterministic stand-in). Docs in no cluster are
    // their own singleton and always kept. The ranking window runs
    // over cluster-sized groups (bounded by near-dup cluster width),
    // never the raw corpus.
    "pipe_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = simhashPairs(docs(s, dir), 3).select("ida", "idb")
      val cc = graft.operators.ConnectedComponents.run(s, pairs, "ida", "idb")
        .toDF("doc_id", "cluster_id")
      val withCluster = docs(s, dir).select("doc_id", "n_chars")
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("n_chars").desc, col("doc_id"))
      withCluster.withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"), (col("rn") === 1).as("keep"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup PAIRS at hamming distance ≤ 3, banded scale
    // path: by pigeonhole, two 64-bit fingerprints within 3 bits share
    // at least one of four 16-bit bands, so candidates come from an
    // equi-join on (band, band value) — never an all-pairs compare —
    // and the xor-popcount check inside candidates is EXACT (the
    // banding loses nothing; proven equal to brute force in
    // SimHashPairsSpec). The oracle skips the banding and checks the
    // all-pairs hamming semantics directly.
    "dedup_simhash_pairs" -> ((s, dir) => simhashPairs(docs(s, dir), 3)),

    // Per-doc Shannon CHARACTER entropy on the 2^-20 lattice (round
    // 18) — the classic curation quality signal (low entropy =
    // boilerplate/repetition/degenerate text), computed CROSS-ENGINE
    // EXACT where every other engine reaches for libm: counts are
    // integers over a PREFIX window of codepoints (round 19: the
    // window is the spark.graft.entropy.window conf, default 1023;
    // both engines share the same cap — the ngram-oracle convention),
    // log2 comes from FixedLog's integer kernel over the CONSTANT LUT
    // 1..window (every count and doc total is bounded by the window,
    // so the LUT needs no data-dependent job — a driver-built
    // window-row broadcast, memoized per size), and
    // ent_num = n·L(n) − Σ c·L(c) is exact integer arithmetic —
    // provably ≥ 0 because L is monotone. The one double division at
    // the edge is identical in both engines. At 100 TB the LUT is
    // unchanged and the per-doc work is one narrow explode + two
    // count-sized aggregations.
    // (see entropyAggregate below the queries map for the declarative
    // cross-check twin)
    // The GATE query runs the per-doc KERNEL (the entropyStream
    // arithmetic — one narrow pass, zero shuffles before the
    // presentation sort): entropy is doc-local with a constant LUT,
    // exactly the shape the repo computes via kernels everywhere else
    // (Winnow, BPE, codecs). The 1.79 s explode+double-aggregate form
    // it replaces survives as [[entropyAggregate]], pinned
    // bit-identical by DocsStreamSpec — two independent in-engine
    // arithmetic paths PLUS the DuckDB oracle.
    // the gate row PINS the default window explicitly: its oracle is
    // entropySql(DefaultEntropyWindow), and resolving from the session
    // conf here would let an ambient spark.graft.entropy.window break
    // gate parity / leak between tests (review r19). The conf-reading
    // no-arg overload is the production entry point.
    "text_entropy" -> ((s, dir) =>
      graft.streaming.DocsStream.entropyStream(docs(s, dir),
        graft.streaming.DocsStream.DefaultEntropyWindow).orderBy("doc_id")),

    // The prefix window is a CONF (spark.graft.entropy.window,
    // VERDICT r18 task 4), and these two rows pin non-default windows
    // against the same parameterized oracle: w64 BINDS on every
    // fixture doc (lengths ~550 chars), so the truncation semantics —
    // which codepoints are in, which are out — are oracle-checked at
    // every SF rather than only asserted in-engine; w4096 exercises
    // the conf-sized LUT (4096-entry broadcast / 4096-row oracle
    // chain) end-to-end, the shape a long-document corpus would run.
    "text_entropy_w64" -> ((s, dir) =>
      graft.streaming.DocsStream.entropyStream(docs(s, dir), 64).orderBy("doc_id")),
    "text_entropy_w4096" -> ((s, dir) =>
      graft.streaming.DocsStream.entropyStream(docs(s, dir), 4096).orderBy("doc_id")),

    // Language id: per-language marker-token counts, argmax with a
    // deterministic preference order; 'und' when no marker fires.
    "text_langid" -> ((s, dir) => {
      def cnt(w: String): Column =
        size(filter(split(col("text"), " "), t => t === w))
      docs(s, dir)
        .withColumn("s_en", cnt("the") + cnt("a"))
        .withColumn("s_fr", cnt("le") + cnt("la"))
        .withColumn("s_de", cnt("der") + cnt("und"))
        .withColumn("s_es", cnt("el") + cnt("los"))
        .withColumn("best",
          greatest(col("s_en"), col("s_fr"), col("s_de"), col("s_es")))
        .withColumn("pred_lang",
          when(col("best") === 0, "und")
            .when(col("s_en") === col("best"), "en")
            .when(col("s_fr") === col("best"), "fr")
            .when(col("s_de") === col("best"), "de")
            .otherwise("es"))
        .select("doc_id", "pred_lang")
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + distinct tokens + chars.
    "text_tokens" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_tokens"),
          length(col("text")).as("len"))
        .orderBy("doc_id")),

    // Regex ("BPE-ish" pre-tokenizer) token counting: word pieces via
    // pattern extraction rather than whitespace split.
    "text_tokens_regex" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_tokens"))
        .orderBy("doc_id")),

    // Quality scoring: stopword ratio, mean token length, short-doc flag.
    "text_quality" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks)
      val nStop = size(filter(toks, t => t.isin("the", "a")))
      docs(s, dir)
        .select(col("doc_id"),
          (nStop.cast("double") / nTok.cast("double")).as("stopword_ratio"),
          ((length(col("text")) - (nTok - 1)).cast("double") / nTok.cast("double"))
            .as("avg_token_len"),
          (nTok < 20).as("too_short"))
        .orderBy("doc_id")
    }),

    // Document fingerprinting: content hash via the engine's native
    // fnv64 Catalyst expression (codegen'd byte fold; oracle replicates
    // the FNV-1a arithmetic in SQL).
    "text_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), expr("fnv64(text)").as("fp"))
        .orderBy("doc_id")),

    // Deterministic stratified sampling: per-language rates via a
    // portable multiplicative hash of doc_id (reproducible across
    // engines and runs — no rand()). The narrow filter keeps sampling
    // embarrassingly parallel at 100 TB; rates live in a small CASE
    // (broadcast-join a rates dim at more strata).
    "pipe_sample_stratified" -> ((s, dir) => {
      val bucket = (col("doc_id") * lit(48271L)) % 65536L % 100L
      val rate = when(col("lang") === "en", 20).otherwise(50)
      docs(s, dir)
        .filter(bucket < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test assignment — the split step every
    // training pipeline needs to be reproducible AND stable under
    // corpus growth: the label depends only on doc_id (the same
    // multiplicative hash as the samplers), never on row order or
    // partition count, so adding documents never reshuffles existing
    // assignments. 90/5/5; narrow, shuffle-free.
    "pipe_train_split" -> ((s, dir) => {
      val bucket = (col("doc_id") * lit(48271L)) % 65536L % 100L
      docs(s, dir)
        .select(col("doc_id"),
          when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // Mixture-weighted corpus sampling — the training-mix step that
    // up/down-samples each source to its target weight (e.g. books
    // 2.75x, low-quality web 0.5x). Weights are carried as integer
    // hundredths so the fractional-copy decision is exact integer
    // arithmetic in both engines: reps = ⌊w⌋ plus one more when the
    // doc's deterministic hash falls under the fractional part. A doc
    // can repeat (upsampling) or vanish (reps = 0 downsampling). The
    // explode is narrow (no shuffle); output is ordered (doc, copy).
    "pipe_mix_weighted" -> ((s, dir) => {
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val w100 = (srcNum % 4) * 75 + 50 // 0.50x / 1.25x / 2.00x / 2.75x
      val hash = (col("doc_id") * lit(48271L)) % 65536L % 100L
      docs(s, dir)
        .withColumn("reps",
          (w100 / 100).cast("int") + when(hash < w100 % 100, 1).otherwise(0))
        .filter(col("reps") >= 1)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1), col("reps"))).as("copy"))
        .select(col("doc_id"), col("source"), col("copy").cast("bigint").as("copy"))
        .orderBy("doc_id", "copy")
    }),

    // Sequence packing — the pretraining batch-assembly step that
    // assigns documents to fixed token-budget context windows (cap =
    // 256) deterministically: within each lang, docs pack in doc_id
    // order; a doc's window is cum_tokens_before div cap and its
    // in-window start is the remainder (linear packing — a doc may
    // straddle a boundary; the offset tells the writer where it
    // starts). The prefix sum comes from DistributedRank.withRunningSum
    // (range-partitioned distributed prefix sums), NOT a
    // `SUM OVER (PARTITION BY lang ...)` window — lang has a handful
    // of values, so the window form is the same low-cardinality-key
    // single-task funnel ev_anomaly shed (VERDICT r11 #1). Pure
    // integer arithmetic ⇒ cross-engine exact.
    "pipe_pack_sequences" -> ((s, dir) => {
      val cap = 256L
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        expr("length(text) - length(replace(text, ' ', '')) + 1").as("n_tokens"))
      graft.operators.DistributedRank
        .withRunningSum(d, Seq("lang"), Seq(col("doc_id")), col("n_tokens"))
        .withColumn("cum_before", col("runsum") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          // integer DIV, not `/` (double division truncates the wrong
          // boundary once cumulative counts exceed 2^53)
          expr(s"cum_before DIV $cap").as("bin"),
          (col("cum_before") % cap).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // BPE token counting — whitespace words are NOT what a trainer
    // packs; real batch assembly budgets BPE tokens. The kernel is the
    // vocabulary-pinned merge table in functions/Bpe (pure JVM, zero
    // deps, merge-order determinism spec-pinned); per-partition word
    // memoization makes the narrow pass O(distinct words) kernel calls.
    "text_bpe_tokens" -> ((s, dir) =>
      bpeCounts(s, dir).select("doc_id", "n_words", "n_bpe_tokens")
        .orderBy("doc_id")),

    // train the merge table FROM the corpus — see [[bpeTrain]]; the
    // oracle unrolls the k argmax+merge iterations as CTE chains
    "text_bpe_train" -> ((s, dir) => bpeTrain(s, dir)),

    // SentencePiece-style unigram-LM training (hard-EM) — see
    // [[unigramModel]]; the oracle unrolls the EM iterations as
    // Viterbi-DP position CTE chains
    "text_unigram_train" -> ((s, dir) => unigramTrain(s, dir)),

    // Viterbi-encode the corpus with the TRAINED unigram model — the
    // second tokenizer family's loop closed end-to-end like
    // text_bpe_apply
    "text_unigram_apply" -> ((s, dir) =>
      unigramApplyCounts(s, dir)
        .select("doc_id", "n_words", "n_unigram_tokens")
        .orderBy("doc_id")),

    // the unigram tokenizer loop closed the same way BPE's was: train
    // → Viterbi-encode → pack sequences under the LEARNED counts (the
    // pipe_pack_sequences_trained shape, unigram edition)
    "pipe_pack_sequences_unigram" -> ((s, dir) => {
      val cap = 512L
      val d = unigramApplyCounts(s, dir)
        .select(col("doc_id"), col("lang"),
          col("n_unigram_tokens").cast("bigint").as("n_tokens"))
      graft.operators.DistributedRank
        .withRunningSum(d, Seq("lang"), Seq(col("doc_id")), col("n_tokens"))
        .withColumn("cum_before", col("runsum") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr(s"cum_before DIV $cap").as("bin"),
          (col("cum_before") % cap).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // encode with the TRAINED table (train + broadcast + count in one
    // query — the tokenizer loop closed end-to-end); the oracle chains
    // the trainer's FINAL segmentation CTE into the count aggregation
    "text_bpe_apply" -> ((s, dir) =>
      bpeApplyCounts(s, dir).select("doc_id", "n_words", "n_bpe_tokens")
        .orderBy("doc_id")),

    // pipe_pack_sequences_bpe's trained twin: budget the LEARNED
    // tokenizer's counts instead of the pinned table's
    "pipe_pack_sequences_trained" -> ((s, dir) => {
      val cap = 512L
      val d = bpeApplyCounts(s, dir)
        .select(col("doc_id"), col("lang"),
          col("n_bpe_tokens").cast("bigint").as("n_tokens"))
      graft.operators.DistributedRank
        .withRunningSum(d, Seq("lang"), Seq(col("doc_id")), col("n_tokens"))
        .withColumn("cum_before", col("runsum") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr(s"cum_before DIV $cap").as("bin"),
          (col("cum_before") % cap).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // pipe_pack_sequences' tokenizer-real twin (VERDICT r12 #4): the
    // same DistributedRank prefix-sum packing, but budgets BPE token
    // counts (cap 512) instead of whitespace words — the number the
    // context-window writer actually cares about.
    "pipe_pack_sequences_bpe" -> ((s, dir) => {
      val cap = 512L
      val d = bpeCounts(s, dir)
        .select(col("doc_id"), col("lang"),
          col("n_bpe_tokens").cast("bigint").as("n_tokens"))
      graft.operators.DistributedRank
        .withRunningSum(d, Seq("lang"), Seq(col("doc_id")), col("n_tokens"))
        .withColumn("cum_before", col("runsum") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr(s"cum_before DIV $cap").as("bin"),
          (col("cum_before") % cap).as("bin_offset"))
        .orderBy("doc_id")
    }),

    // Vocabulary building: top-k tokens by global frequency with a
    // complete deterministic order (count desc, token asc). Partial
    // (map-side) aggregation makes the token histogram a single
    // shuffle of the distinct-token set, not the token stream; each
    // post-agg partition then keeps only its local top-100 (a superset
    // of any global top-100 member — counts are final after the agg),
    // so the single-partition ranking window sees ≤ 100×numPartitions
    // rows instead of the whole distinct-token set.
    "text_vocab_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val counts = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      val localTop = counts
        .sortWithinPartitions(col("n").desc, col("token").asc)
        .as[(String, Long)]
        .mapPartitions(_.take(100))
        .toDF("token", "n")
      localTop
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("token").asc)))
        .filter(col("rk") <= 100)
        .select("rk", "token", "n")
        .orderBy("rk")
    }),

    // Corpus-frequency document scoring — the unigram stand-in for
    // CCNet's LM-quality gate: a doc whose tokens are corpus-rare
    // scores low mean frequency / high n_rare. Two-pass corpus-global
    // shape: (1) token histogram (one shuffle on token, map-side
    // combined); (2) join the histogram back onto the token stream —
    // Catalyst broadcasts the (Zipf-bounded) vocab side when small,
    // AQE skew-join covers hot tokens otherwise — then re-aggregate
    // per doc (one shuffle on doc_id). Exact integer arithmetic
    // throughout ⇒ full SQL oracle.
    "text_doc_freq" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val cc = tok.groupBy("w").agg(count(lit(1)).as("c"))
      tok.join(cc, "w")
        .groupBy("doc_id")
        .agg(
          round(sum(col("c")).cast("double") / count(lit(1)), 6)
            .as("mean_tok_freq"),
          sum(when(col("c") < 5, 1L).otherwise(0L)).as("n_rare"))
        .orderBy("doc_id")
    }),

    // Bigram-LM perplexity quality filter — the CCNet/Gopher-style
    // language-model gate (Wenzek et al. 2020): train bigram counts
    // IN-ENGINE over the corpus, score each doc by how surprising its
    // own bigrams are under that model, flag the worst percentile.
    // Model: add-one-smoothed conditional q(w2|w1)⁻¹ =
    // (c(w1·)+V)/(c(w1,w2)+1) — the log's ARGUMENT, per the BM25
    // ln-free doctrine (libm ln has no cross-engine bit contract; the
    // rational is monotone in the true surprisal per term). Each term
    // snaps to the 2^-20 lattice so the per-doc SUM is exact and
    // order-independent; the doc score is the arithmetic mean (the
    // deterministic aggregation — documented difference from the
    // geometric mean true perplexity takes). Worst-percentile flag via
    // DistributedRank percent_rank ≥ 0.99 on (ppx, doc_id) — the
    // ev_anomaly rank-threshold pattern, scale-safe (no
    // single-partition window).
    //
    // Scale (100 TB): the bigram explode is one narrow pass; model
    // state is vocabulary²-BOUNDED (c(w1,w2) and c(w1·) tables — one
    // shuffle each off the truncated bigram stream); V is a plan-time
    // scalar literal (the a12-bloom tier); scoring is two model joins
    // (Zipf-bounded — AQE broadcasts/skews them) + one doc_id shuffle.
    "text_ngram_ppx" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ", -1).as("ts"))
      val big = graft.operators.Checkpoints.truncate(
        t.filter(size(col("ts")) >= 2).select(col("doc_id"),
            explode(expr(
              "transform(sequence(0, size(ts)-2), i -> named_struct('w1', ts[i], 'w2', ts[i+1]))"))
              .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
      val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      // c(w1·) = Σ_w2 c(w1,w2): derive the continuation totals from the
      // bigram counts instead of a SECOND full shuffle of the bigram
      // stream by w1 (guide §2.3/§2.4 — the re-aggregation shuffles the
      // vocab²-bounded count table, not the corpus-sized token stream;
      // exact long arithmetic, identical to counting big rows per w1)
      val uc = bc.groupBy("w1").agg(sum(col("cb")).as("cu"))
      // overlap the two independent build-time jobs (guide §2.6): the
      // bigram-checkpoint materialization and the V vocab scalar both
      // read only the scan and ran back-to-back as two serial
      // single-task jobs; eager-materializing the checkpoint on a
      // helper thread while the driver computes V halves that serial
      // section (same total work — the checkpoint materializes exactly
      // once either way, this only moves WHEN)
      val fut = java.util.concurrent.CompletableFuture.runAsync(() => {
        big.count(); ()
      })
      val v =
        try t.select(explode(col("ts")).as("w"))
          .agg(countDistinct(col("w"))).collect()(0).getLong(0)
        finally fut.join()
      val scored = big.join(bc, Seq("w1", "w2")).join(uc, Seq("w1"))
        .withColumn("q", expr(
          s"round(cast(cu + ${v}L as double) / cast(cb + 1L as double) * 1048576d) / 1048576d"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("q")) / count(lit(1)), 6).as("ppx"))
      graft.operators.DistributedRank.withPercentRank(
          scored, Seq.empty, Seq(col("ppx"), col("doc_id")))
        .withColumn("flagged", when(col("pr") >= 0.99, 1).otherwise(0))
        .select("doc_id", "n_bigrams", "ppx", "flagged")
        .orderBy("doc_id")
    }),

    // PMI collocation mining (Church & Hanks 1990) — the corpus-
    // analysis complement of the bigram-LM gate: rank word bigrams by
    // pointwise mutual information, keep the top 20. Score is the PMI
    // log's ARGUMENT (the ln-free doctrine — monotone in true PMI):
    // P(w1,w2)/(P(w1)P(w2)) = (cb/cu1)·(NB/cu2), written as TWO double
    // ratios in a fixed parenthesized order (the BM25 IEEE rule), with
    // a min-count floor so hapax pairs don't dominate. Scale: the same
    // bigram shuffle as text_ngram_ppx (vocab²-bounded counts), the
    // Zipf-bounded unigram join, then the text_vocab_topk local-top +
    // tiny-window pattern — no single-partition pass over anything
    // row-scaled. NB is a plan-time scalar literal (the a12 tier).
    "text_collocations" -> ((s, dir) => {
      import s.implicits._
      val t = docs(s, dir).select(col("doc_id"), split(col("text"), " ", -1).as("ts"))
      val big = graft.operators.Checkpoints.truncate(
        t.filter(size(col("ts")) >= 2).select(
            explode(expr(
              "transform(sequence(0, size(ts)-2), i -> named_struct('w1', ts[i], 'w2', ts[i+1]))"))
              .as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2")))
      val nb = big.count()
      val bc = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val uni = t.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
      val scored = bc.filter(col("cb") >= CollocMinCount)
        .join(uni.select(col("w").as("w1"), col("cu").as("cu1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), "w2")
        .withColumn("pmi", round(
          (col("cb").cast("double") / col("cu1").cast("double")) *
            (lit(nb.toDouble) / col("cu2").cast("double")), 6))
        .select("w1", "w2", "cb", "pmi")
      val localTop = scored
        .sortWithinPartitions(col("pmi").desc, col("w1").asc, col("w2").asc)
        .as[(String, String, Long, Double)]
        .mapPartitions(_.take(CollocTopK))
        .toDF("w1", "w2", "cb", "pmi")
      localTop
        .withColumn("rk", row_number().over(
          Window.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)))
        .filter(col("rk") <= CollocTopK)
        .select("rk", "w1", "w2", "cb", "pmi")
        .orderBy("rk")
    }),

    // Gopher-style repetition quality signals (Rae et al. 2021,
    // "Scaling Language Models", App. A1.1): per-document duplicate-
    // token fraction and the character fraction of the most frequent
    // word 2-gram (ties: lexicographically smallest bigram — corpus is
    // ASCII, so JVM UTF-16 order == DuckDB byte order). Both signals
    // are document-local, so the operator is ONE narrow pass — no
    // shuffle at any scale; 100 TB cost is the scan itself. Tight JVM
    // kernel over each doc's own token array (same rationale as
    // [[simhashes]]: a higher-order-function expression for the
    // argmax-over-bigram-counts would be interpreted, not codegen'd).
    "text_repetition" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val ws = text.split(" ", -1)
          val nTok = ws.length
          val wc = new java.util.HashMap[String, Int]()
          var i = 0
          while (i < nTok) { wc.merge(ws(i), 1, Integer.sum _); i += 1 }
          var dupTok = 0
          i = 0
          while (i < nTok) { if (wc.get(ws(i)) > 1) dupTok += 1; i += 1 }
          val bc = new java.util.HashMap[String, Int]()
          i = 0
          while (i < nTok - 1) {
            bc.merge(ws(i) + " " + ws(i + 1), 1, Integer.sum _); i += 1
          }
          var topBg: String = null
          var topN = 0
          val it = bc.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue > topN ||
                (e.getValue == topN && topBg != null && e.getKey.compareTo(topBg) < 0)) {
              topN = e.getValue; topBg = e.getKey
            }
          }
          // ratios of exact small ints — both engines divide identical
          // operands, then round HALF_UP like every oracle double
          val bgFrac =
            if (topBg == null) 0.0
            else graft.functions.Num.roundHalfUp(
              topN.toDouble * topBg.length / text.length, 6)
          (id, Option(topBg), bgFrac,
            graft.functions.Num.roundHalfUp(dupTok.toDouble / nTok, 6))
        })
        .toDF("doc_id", "top_bigram", "top_bigram_frac", "dup_token_frac")
        .orderBy("doc_id")
    })
  )

  /** Portable word-count in ANSI SQL: pad + double the separators so
    * word-boundary matches never overlap, then length arithmetic. */
  /** Parameterized `text_entropy` oracle: Shannon character entropy
    * over the first `window` text positions — the prefix-window
    * contract of `spark.graft.entropy.window` replayed in DuckDB. The
    * chars CTE caps positions at the window, the lut CTE covers the
    * count domain 1..window (both bounded BY the same conf value the
    * engine uses), and the FixedLog shift-and-square chain is shared
    * with pipe_dsir_weights' oracle. */
  private def entropySql(window: Int): String =
    s"""WITH chars AS (
          SELECT doc_id, substr(text, CAST(j AS INT), 1) AS ch
          FROM documents, unnest(range(1, ${window + 1})) AS t(j)
          WHERE text IS NOT NULL AND j <= length(text)),
        cnt AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                FROM chars GROUP BY 1, 2),
        nn AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
               FROM cnt GROUP BY 1),
        vals AS (SELECT unnest(range(1, ${window + 1})) AS v),
        lut AS (SELECT v, ${OracleSql.log2ResultExpr} AS l2
                FROM (${OracleSql.log2ChainSql(
                  "SELECT v, v::HUGEINT AS num, 1::HUGEINT AS den FROM vals")})),
        cl AS (SELECT cnt.doc_id, CAST(sum(cnt.c * lut.l2) AS BIGINT) AS cl
               FROM cnt JOIN lut ON cnt.c = lut.v GROUP BY 1),
        en AS (SELECT nn.doc_id, nn.n,
                      CAST(nn.n * lut.l2 - cl.cl AS BIGINT) AS ent_num
               FROM nn JOIN lut ON nn.n = lut.v
               JOIN cl ON cl.doc_id = nn.doc_id)
        SELECT doc_id, n, ent_num,
               round(CAST(ent_num AS DOUBLE) /
                     (CAST(n AS DOUBLE) * 1048576.0), 6) AS entropy
        FROM en ORDER BY doc_id"""

  private def sqlWordCount(w: String): String =
    s"CAST((length(' ' || replace(text, ' ', '  ') || ' ') - " +
      s"length(replace(' ' || replace(text, ' ', '  ') || ' ', ' $w ', ''))) / ${w.length + 2} AS BIGINT)"

  private val exactJaccardSql =
    """WITH idx AS (SELECT unnest(range(1, 1000)) AS g),
       grams AS (
         SELECT DISTINCT doc_id, substr(text, CAST(g AS INT), 3) AS gram
         FROM documents JOIN idx ON g <= greatest(length(text) - 2, 1)),
       sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
         FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jac AS (
         SELECT ida, idb, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jac
         FROM inter
         JOIN sizes sa ON sa.doc_id = ida
         JOIN sizes sb ON sb.doc_id = idb)
       SELECT ida, idb, jac FROM jac WHERE jac >= 0.8 ORDER BY ida, idb"""

  /** Shared BPE-count CTE chain (SQL twin of [[bpeCounts]]): space the
    * characters of each DISTINCT word out, run the merge table as the
    * multi-pass replace chain from [[graft.functions.Bpe.sqlReplaceChain]]
    * (see its scaladoc for why one pass per rule is not enough), count
    * symbols as spaces−1. Encoding runs over the vocabulary only —
    * the per-doc join fans the tiny count table back out. */
  private val bpeCntCtes: String = {
    // (?s) so a newline inside a word is spaced like any other symbol;
    // RE2's '.' matches whole codepoints, matching Bpe.baseSymbols'
    // codepoint iteration (ADVICE r13 #1)
    val spaced = """' ' || regexp_replace(w, '(?s)(.)', '\1 ', 'g')"""
    s"""bpev AS (
          SELECT DISTINCT t.w FROM documents, unnest(string_split(text, ' ')) AS t(w)),
        bpee AS (
          SELECT w, ${graft.functions.Bpe.sqlReplaceChain(spaced)} AS s FROM bpev),
        bpec AS (
          SELECT w, CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS n_sym
          FROM bpee)"""
  }

  /** SQL twin of [[bpeTrain]]: the k training iterations unrolled as
    * seg/pair/argmax CTE chains over the spaced-string form (the
    * kmeans unrolled-Lloyd doctrine applied to tokenizer training).
    * seg/t are MATERIALIZED — each feeds two consumers and a plain
    * CTE chain of depth k would re-evaluate the replace chains
    * exponentially (the r12 PQ-oracle trap). */
  private def bpeTrainCtes(k: Int, finalSeg: Boolean): Seq[String] = {
    def repN(e: String): String =
      (1 to graft.functions.Bpe.SqlPasses).foldLeft(e)((a, _) =>
        s"replace($a, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')")
    Seq(
      """vocab AS (
          SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w)""",
      // bounded-range idiom: covers words up to 512 codepoints (the
      // Spark side is uncapped — BpeSpec asserts the corpus max stays
      // far below; a longer-token future corpus must raise this)
      "bidx AS (SELECT unnest(range(1, 512)) AS i)",
      """seg0 AS MATERIALIZED (
          SELECT w, cnt, ' ' || regexp_replace(w, '(?s)(.)', '\1 ', 'g') AS s FROM vocab)""") ++
      (0 until k).flatMap { it =>
        Seq(
          s"""p$it AS (
              SELECT syms[CAST(i AS INT)] AS l, syms[CAST(i AS INT) + 1] AS r,
                     CAST(sum(cnt) AS BIGINT) AS n
              FROM (SELECT cnt, string_split(trim(s), ' ') AS syms FROM seg$it), bidx
              WHERE i <= len(syms) - 1
                AND syms[CAST(i AS INT)] <> syms[CAST(i AS INT) + 1]
              GROUP BY 1, 2)""",
          s"t$it AS MATERIALIZED (SELECT l, r, n FROM p$it ORDER BY n DESC, l ASC, r ASC LIMIT 1)") ++
          // LEFT JOIN ON TRUE + CASE, not CROSS JOIN: if pair supply
          // exhausts (empty t$it) the segmentation must pass through
          // UNCHANGED — a cross join would empty every later seg and
          // silently zero the apply oracle's counts, where the engine
          // just stops adding merges
          (if (it < k - 1 || finalSeg)
            Seq(s"""seg${it + 1} AS MATERIALIZED (
                SELECT w, cnt, CASE WHEN t.l IS NULL THEN s ELSE ${repN("s")} END AS s
                FROM seg$it LEFT JOIN t$it t ON TRUE)""")
          else Nil)
      }
  }

  private def bpeTrainSql(k: Int): String = {
    val sel = (0 until k)
      .map(i => s"SELECT ${i + 1} AS rank, l AS lft, r AS rgt, n FROM t$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeTrainCtes(k, finalSeg = false).mkString(",\n")} " +
      s"SELECT rank, lft, rgt, n FROM ($sel) ORDER BY rank"
  }

  /** Trained-tokenizer count CTEs (SQL twin of [[bpeApplyCounts]]):
    * the trainer chain's FINAL segmentation seg$k, counted as
    * spaces − 1 per word — the bpeCntCtes counting rule applied to the
    * LEARNED table instead of the pinned one. */
  private def bpeApplyCtes(k: Int): String =
    s"""${bpeTrainCtes(k, finalSeg = true).mkString(",\n")},
        bpact AS (
          SELECT w, CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS n_sym
          FROM seg$k)"""

  /** Viterbi-DP CTE chain under model CTE `modelCte` (piece, num) →
    * `final$tag(w, f, path)`: one CTE per word position j, each the
    * argmax over ≤ MaxPiece arms (last-piece length l) extending
    * position j−l — `ORDER BY s DESC, l DESC` is the kernel's total
    * tie rule. Paths carry the piece sequence as a chr(31)-joined
    * string (one leading separator per piece). MATERIALIZED on every
    * b CTE: each is referenced by up to MaxPiece later positions and
    * plain inlining would re-evaluate the chain exponentially (the
    * PQ-oracle lesson). SQL twin of
    * [[graft.functions.UnigramLm.viterbi]]; prototyped in DuckDB
    * against a Python replica before the Scala side was written. */
  private def unigramDpCtes(tag: String, modelCte: String): String = {
    import graft.functions.UnigramLm.{MaxPiece, MaxWordSql, Lattice}
    val b0 = s"b${tag}_0 AS MATERIALIZED (SELECT w, f, CAST(1.0 AS DOUBLE) AS s, '' AS path FROM w0)"
    val bj = (1 to MaxWordSql).map { j =>
      val arms = (1 to math.min(j, MaxPiece)).map { l =>
        s"""SELECT a.w, a.f, a.s * (CAST(m.num AS DOUBLE) / $Lattice.0) AS s, $l AS l,
                   a.path || chr(31) || substr(a.w, ${j - l + 1}, $l) AS path
            FROM b${tag}_${j - l} a JOIN $modelCte m ON m.piece = substr(a.w, ${j - l + 1}, $l)
            WHERE length(a.w) >= $j"""
      }.mkString(" UNION ALL ")
      s"""b${tag}_$j AS MATERIALIZED (SELECT w, f, s, path FROM (
            SELECT w, f, s, path,
                   row_number() OVER (PARTITION BY w ORDER BY s DESC, l DESC) AS rk
            FROM ($arms) z) zz WHERE rk = 1)"""
    }
    val fin = (1 to MaxWordSql)
      .map(j => s"SELECT w, f, path FROM b${tag}_$j WHERE length(w) = $j")
      .mkString(" UNION ALL ")
    (Seq(b0) ++ bj :+ s"final$tag AS MATERIALIZED ($fin)").mkString(",\n")
  }

  /** Unigram trainer CTEs (SQL twin of [[unigramModel]]): the
    * (word, freq) vocab w0, the frequency-weighted substring seed
    * model m0, the corpus char set, then per EM iteration one
    * [[unigramDpCtes]] Viterbi pass + the usage-count M-step with the
    * +1 single-char floor → model mi$it(piece, c, num). */
  private def unigramTrainCtes: String = {
    import graft.functions.UnigramLm.{MaxPiece, MaxWordSql, Lattice, Iters}
    val base =
      s"""w0 AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS f FROM (
              SELECT unnest(string_split(text, ' ')) AS w FROM documents) z
            WHERE length(w) >= 1 GROUP BY w),
          sub AS (
            SELECT w, f, substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece
            FROM w0, unnest(range(1, ${MaxWordSql + 1})) AS ti(i),
                 unnest(range(1, ${MaxPiece + 1})) AS tl(l)
            WHERE i + l - 1 <= length(w)),
          c0s AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM sub GROUP BY piece),
          t0s AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c0s),
          m0 AS MATERIALIZED (
            SELECT piece, CAST(c AS BIGINT) * $Lattice // t AS num FROM c0s, t0s),
          chars AS (
            SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece
            FROM w0, unnest(range(1, ${MaxWordSql + 1})) AS ti(i)
            WHERE i <= length(w))"""
    val iters = (1 to Iters).map { it =>
      val mPrev = if (it == 1) "m0" else s"mi${it - 1}"
      s"""${unigramDpCtes(s"i$it", mPrev)},
          ui$it AS (
            SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM (
              SELECT f, unnest(string_split(path, chr(31))) AS piece FROM finali$it) z
            WHERE piece <> '' GROUP BY piece),
          ci$it AS (
            SELECT coalesce(u.piece, ch.piece) AS piece,
                   CAST(coalesce(u.c, 0) +
                        CASE WHEN ch.piece IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS c
            FROM ui$it u FULL OUTER JOIN chars ch ON u.piece = ch.piece),
          ti$it AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ci$it),
          mi$it AS MATERIALIZED (
            SELECT piece, c, CAST(c AS BIGINT) * $Lattice // t AS num FROM ci$it, ti$it)"""
    }.mkString(",\n")
    s"$base,\n$iters"
  }

  private def unigramTrainSql: String =
    s"""WITH $unigramTrainCtes
        SELECT piece, c AS cnt, num AS p_num
        FROM mi${graft.functions.UnigramLm.Iters} ORDER BY piece"""

  /** Apply oracle: the trainer chain + ONE more Viterbi pass under
    * the final model; per-word piece count = the path's separator
    * count; per-doc sums LEFT JOIN so the empty word ('' from
    * trailing/double spaces — never in w0) counts 0 pieces exactly
    * like the kernel. */
  private def unigramApplySql: String = {
    import graft.functions.UnigramLm.Iters
    s"""WITH $unigramTrainCtes,
        ${unigramDpCtes("ap", s"mi$Iters")},
        wp AS (
          SELECT w, CAST(length(path) - length(replace(path, chr(31), '')) AS INT) AS np
          FROM finalap),
        dw AS (SELECT doc_id, t.w
               FROM documents, unnest(string_split(text, ' ')) AS t(w))
        SELECT doc_id, CAST(count(*) AS INT) AS n_words,
               CAST(sum(coalesce(wp.np, 0)) AS INT) AS n_unigram_tokens
        FROM dw LEFT JOIN wp ON wp.w = dw.w
        GROUP BY doc_id ORDER BY doc_id"""
  }

  def oracle: Map[String, String] = Map(
    // SQL twin of MinHash.simhash64: FNV-1a per token (u64 HUGEINT
    // fold), per-bit majority vote — see OracleSql
    "dedup_simhash" ->
      s"""WITH ${OracleSql.simhashCte}
          SELECT doc_id, simhash FROM sim ORDER BY doc_id""",
    // all-pairs hamming over the same simhash values (the engine's
    // banding is lossless, so the direct semantics are the oracle)
    "dedup_simhash_pairs" ->
      s"""WITH ${OracleSql.simhashCte}
          SELECT a.doc_id AS ida, b.doc_id AS idb,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM sim a JOIN sim b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          ORDER BY ida, idb""",
    // transitive closure of the simhash pair graph via recursive CTE;
    // cluster id = min reachable vertex (the Spark side's canonical
    // label from min-propagation)
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE ${OracleSql.simhashCte},
          pairs AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          edges AS (SELECT ida AS u, idb AS v FROM pairs
                    UNION SELECT idb, ida FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, least(u, min(v)) AS cluster_id
          FROM reach GROUP BY u ORDER BY doc_id""",
    // the distributed-loop twin answers to the SAME oracle — the fast
    // path and the loop are semantically identical (property-pinned),
    // so both rows must hash-match this closure
    "dedup_cluster_cc_dist" ->
      s"""WITH RECURSIVE ${OracleSql.simhashCte},
          pairs AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          edges AS (SELECT ida AS u, idb AS v FROM pairs
                    UNION SELECT idb, ida FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
          SELECT u AS doc_id, least(u, min(v)) AS cluster_id
          FROM reach GROUP BY u ORDER BY doc_id""",
    // same transitive closure, then one representative per cluster:
    // longest doc wins, ties to the lowest id; singletons self-cluster
    "pipe_keep_best" ->
      s"""WITH RECURSIVE ${OracleSql.simhashCte},
          pairs AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
          edges AS (SELECT ida AS u, idb AS v FROM pairs
                    UNION SELECT idb, ida FROM pairs),
          reach(u, v) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
          lab AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
                  FROM reach GROUP BY u),
          alldocs AS (
            SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
                   d.n_chars
            FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id)
          SELECT doc_id, cluster_id,
                 row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY n_chars DESC, doc_id) = 1 AS keep
          FROM alldocs ORDER BY doc_id""",
    "text_fingerprint" ->
      s"""SELECT doc_id, ${OracleSql.sb(OracleSql.fnvString("text"))} AS fp
          FROM documents ORDER BY doc_id""",
    "pipe_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
         WHERE (doc_id * 48271) % 65536 % 100 <
               CASE WHEN lang = 'en' THEN 20 ELSE 50 END
         ORDER BY doc_id""",
    "pipe_train_split" ->
      """SELECT doc_id,
                CASE WHEN (doc_id * 48271) % 65536 % 100 < 90 THEN 'train'
                     WHEN (doc_id * 48271) % 65536 % 100 < 95 THEN 'val'
                     ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""",
    // integer-hundredths mixture weights; reps = floor(w) + fractional
    // hash draw, exploded via range — exact integer arithmetic only
    "pipe_mix_weighted" ->
      """WITH w AS (
           SELECT doc_id, source,
                  (CAST(substr(source, 4) AS INT) % 4) * 75 + 50 AS w100
           FROM documents),
         n AS (
           SELECT doc_id, source,
                  w100 // 100 +
                  CASE WHEN (doc_id * 48271) % 65536 % 100 < w100 % 100
                       THEN 1 ELSE 0 END AS reps
           FROM w)
         SELECT doc_id, source, CAST(u.c AS BIGINT) AS copy
         FROM n, unnest(range(1, reps + 1)) AS u(c)
         WHERE reps >= 1
         ORDER BY doc_id, copy""",
    "text_ngram_ppx" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         -- bounded-range idiom (no lateral generate_series in DuckDB):
         -- covers docs to 1023 bigrams; the corpus max is ~99 tokens
         gs AS (SELECT unnest(range(1, 1024)) AS i),
         big AS (
           SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
           FROM t JOIN gs ON i <= len(ts) - 1),
         bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY 1, 2),
         uc AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM big GROUP BY 1),
         vs AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                FROM (SELECT unnest(ts) AS w FROM t)),
         q AS (
           SELECT doc_id,
                  round(CAST(cu + vs.v AS DOUBLE) / CAST(cb + 1 AS DOUBLE)
                        * 1048576) / 1048576.0 AS q
           FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vs),
         d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      round(sum(q) / count(*), 6) AS ppx
               FROM q GROUP BY 1),
         r AS (SELECT doc_id, n_bigrams, ppx,
                      percent_rank() OVER (ORDER BY ppx, doc_id) AS pr
               FROM d)
         SELECT doc_id, n_bigrams, ppx, CAST(pr >= 0.99 AS INT) AS flagged
         FROM r ORDER BY doc_id""",
    "text_bpe_train" -> bpeTrainSql(8),
    "text_unigram_train" -> unigramTrainSql,
    "text_unigram_apply" -> unigramApplySql,
    "pipe_pack_sequences_unigram" -> {
      import graft.functions.UnigramLm.Iters
      s"""WITH $unigramTrainCtes,
          ${unigramDpCtes("ap", s"mi$Iters")},
          wp AS (
            SELECT w, CAST(length(path) - length(replace(path, chr(31), '')) AS INT) AS np
            FROM finalap),
          dw AS (SELECT doc_id, lang, t.w
                 FROM documents, unnest(string_split(text, ' ')) AS t(w)),
          d AS (SELECT doc_id, lang, CAST(sum(coalesce(wp.np, 0)) AS BIGINT) AS n_tokens
                FROM dw LEFT JOIN wp ON wp.w = dw.w GROUP BY doc_id, lang),
          cum AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM d)
          SELECT doc_id, lang, n_tokens,
                 cum_before // 512 AS bin,
                 cum_before % 512 AS bin_offset
          FROM cum ORDER BY doc_id"""
    },
    // same bigram/unigram count CTEs as text_ngram_ppx (the bounded-
    // range idiom, corpus guard shared), scored by the PMI argument as
    // two double ratios in the engine's exact parenthesization
    "text_collocations" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
          gs AS (SELECT unnest(range(1, 1024)) AS i),
          big AS (
            SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
            FROM t JOIN gs ON i <= len(ts) - 1),
          nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM big),
          bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM big GROUP BY 1, 2),
          uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                  FROM (SELECT unnest(ts) AS w FROM t) GROUP BY 1),
          sc AS (
            SELECT bc.w1, bc.w2, bc.cb,
                   round((CAST(cb AS DOUBLE) / CAST(u1.cu AS DOUBLE))
                         * (CAST(nb.nb AS DOUBLE) / CAST(u2.cu AS DOUBLE)), 6) AS pmi
            FROM bc JOIN uni u1 ON u1.w = bc.w1 JOIN uni u2 ON u2.w = bc.w2
            CROSS JOIN nb
            WHERE cb >= $CollocMinCount),
          r AS (SELECT row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rk,
                       w1, w2, cb, pmi
                FROM sc)
          SELECT rk, w1, w2, cb, pmi FROM r WHERE rk <= $CollocTopK ORDER BY rk""",
    "text_bpe_apply" ->
      s"""WITH ${bpeApplyCtes(8)},
          w0 AS (SELECT doc_id, t.w
                 FROM documents, unnest(string_split(text, ' ')) AS t(w))
          SELECT w0.doc_id,
                 CAST(count(*) AS INT) AS n_words,
                 CAST(sum(b.n_sym) AS INT) AS n_bpe_tokens
          FROM w0 JOIN bpact b ON b.w = w0.w
          GROUP BY w0.doc_id ORDER BY doc_id""",
    "pipe_pack_sequences_trained" ->
      s"""WITH ${bpeApplyCtes(8)},
          w0 AS (SELECT doc_id, lang, t.w
                 FROM documents, unnest(string_split(text, ' ')) AS t(w)),
          d AS (SELECT doc_id, lang, CAST(sum(b.n_sym) AS BIGINT) AS n_tokens
                FROM w0 JOIN bpact b ON b.w = w0.w GROUP BY doc_id, lang),
          cum AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM d)
          SELECT doc_id, lang, n_tokens,
                 cum_before // 512 AS bin,
                 cum_before % 512 AS bin_offset
          FROM cum ORDER BY doc_id""",
    "text_bpe_tokens" ->
      s"""WITH $bpeCntCtes,
          w0 AS (SELECT doc_id, t.w
                 FROM documents, unnest(string_split(text, ' ')) AS t(w))
          SELECT w0.doc_id,
                 CAST(count(*) AS INT) AS n_words,
                 CAST(sum(c.n_sym) AS INT) AS n_bpe_tokens
          FROM w0 JOIN bpec c ON c.w = w0.w
          GROUP BY w0.doc_id ORDER BY doc_id""",
    "pipe_pack_sequences_bpe" ->
      s"""WITH $bpeCntCtes,
          w0 AS (SELECT doc_id, lang, t.w
                 FROM documents, unnest(string_split(text, ' ')) AS t(w)),
          d AS (SELECT doc_id, lang, CAST(sum(c.n_sym) AS BIGINT) AS n_tokens
                FROM w0 JOIN bpec c ON c.w = w0.w GROUP BY doc_id, lang),
          cum AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
            FROM d)
          SELECT doc_id, lang, n_tokens,
                 cum_before // 512 AS bin,
                 cum_before % 512 AS bin_offset
          FROM cum ORDER BY doc_id""",
    "pipe_pack_sequences" ->
      """WITH d AS (
           SELECT doc_id, lang,
                  length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, lang, n_tokens,
                  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM d)
         SELECT doc_id, lang, n_tokens,
                cum_before // 256 AS bin,
                cum_before % 256 AS bin_offset
         FROM c ORDER BY doc_id""",
    "text_vocab_topk" ->
      """WITH c AS (
           SELECT t.token, count(*) AS n
           FROM documents, unnest(string_split(text, ' ')) AS t(token)
           GROUP BY t.token)
         SELECT row_number() OVER (ORDER BY n DESC, token ASC) AS rk, token, n
         FROM c QUALIFY rk <= 100 ORDER BY rk""",
    "dedup_exact_hash" ->
      """SELECT md5(substr(text, 1, 40)) AS key_hash,
                min(doc_id) AS canonical_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY key_hash""",
    "dedup_ngram_jaccard" -> exactJaccardSql,
    // The LSH path must reproduce the exact result at this threshold
    // (candidate recall ≈ 1 - 5e-8 at j = 0.8 with r=4, b=32).
    "dedup_minhash_lsh" -> exactJaccardSql,
    "text_langid" -> {
      val en = s"${sqlWordCount("the")} + ${sqlWordCount("a")}"
      val fr = s"${sqlWordCount("le")} + ${sqlWordCount("la")}"
      val de = s"${sqlWordCount("der")} + ${sqlWordCount("und")}"
      val es = s"${sqlWordCount("el")} + ${sqlWordCount("los")}"
      s"""WITH s AS (
            SELECT doc_id, $en AS s_en, $fr AS s_fr, $de AS s_de, $es AS s_es
            FROM documents)
          SELECT doc_id,
                 CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                      WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                      WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                      WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                      ELSE 'es' END AS pred_lang
          FROM s ORDER BY doc_id"""
    },
    // the corpus is single-space lowercase words, so regex word-piece
    // count equals the whitespace count — the oracle uses portable
    // length arithmetic rather than engine-specific regex semantics
    "text_tokens_regex" ->
      """SELECT doc_id,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
         FROM documents ORDER BY doc_id""",
    "text_tokens" ->
      """SELECT doc_id,
                length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
                CAST(length(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens,
                length(text) AS len
         FROM documents ORDER BY doc_id""",
    "text_quality" -> {
      val stop = s"${sqlWordCount("the")} + ${sqlWordCount("a")}"
      s"""WITH b AS (
            SELECT doc_id, text,
                   length(text) - length(replace(text, ' ', '')) + 1 AS n_tok,
                   $stop AS n_stop
            FROM documents)
          SELECT doc_id,
                 CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
                 CAST(length(text) - (n_tok - 1) AS DOUBLE) / n_tok AS avg_token_len,
                 n_tok < 20 AS too_short
          FROM b ORDER BY doc_id"""
    },
    "text_doc_freq" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         cc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w)
         SELECT t.doc_id,
                round(CAST(SUM(cc.c) AS DOUBLE) / COUNT(*), 6) AS mean_tok_freq,
                CAST(SUM(CASE WHEN cc.c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
         FROM tok t JOIN cc ON t.w = cc.w
         GROUP BY t.doc_id ORDER BY t.doc_id""",

    // the FixedLog chain (shared with pipe_dsir_weights' oracle) over
    // the distinct-count value set; n·L(n) − Σ c·L(c) in exact ints,
    // one double division at the edge — the engine twin byte-for-byte
    "text_entropy" -> entropySql(
      graft.streaming.DocsStream.DefaultEntropyWindow),
    // non-default prefix windows (spark.graft.entropy.window): w64
    // binds on every fixture doc, w4096 drives the conf-sized chain
    "text_entropy_w64" -> entropySql(64),
    "text_entropy_w4096" -> entropySql(4096),

    // token/bigram tables via unnest; top bigram by (count DESC,
    // bigram ASC) row_number — the same tie-break as the JVM kernel
    "text_repetition" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS nc
           FROM documents),
         tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
         wc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w),
         dup AS (SELECT doc_id,
                   CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                     / SUM(c) AS dup_frac
                 FROM wc GROUP BY doc_id),
         big AS (SELECT doc_id, nc,
                   unnest(list_transform(range(1, len(ws)),
                                         i -> ws[i] || ' ' || ws[i+1])) AS bg
                 FROM t WHERE len(ws) >= 2),
         bgc AS (SELECT doc_id, nc, bg, COUNT(*) AS c
                 FROM big GROUP BY doc_id, nc, bg),
         top AS (SELECT doc_id, bg,
                   round(CAST(c * length(bg) AS DOUBLE) / nc, 6) AS f
                 FROM (SELECT doc_id, nc, bg, c,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY c DESC, bg ASC) AS rn
                       FROM bgc) x WHERE rn = 1)
         SELECT d.doc_id, top.bg AS top_bigram,
                coalesce(top.f, 0.0) AS top_bigram_frac,
                round(dup.dup_frac, 6) AS dup_token_frac
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN top USING (doc_id)
         LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id"""
  )
}
