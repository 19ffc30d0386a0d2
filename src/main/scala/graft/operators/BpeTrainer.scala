package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

/** BPE tokenizer TRAINING (Sennrich et al. 2016) — the engine already
  * APPLIES a committed GPT-2 merge list (`functions/Bpe.scala`); this
  * learns the merge list from the corpus itself, the remaining half of
  * the tokenizer story for a training-data pipeline. (The single-JVM
  * `tools/BpeTrain.scala` that generated the committed fixture is the
  * same algorithm as an offline local loop; THIS is the distributed
  * operator — the corpus never leaves the cluster.)
  *
  * The classic algorithm operates on the word-frequency dictionary, not
  * the corpus: tokenize once, count words, represent each distinct word
  * as a symbol sequence (initially characters), then repeatedly (1) count
  * adjacent symbol pairs weighted by word frequency, (2) take the most
  * frequent pair (count desc, then lexicographic — fully deterministic),
  * (3) merge its occurrences greedily left-to-right in every word.
  *
  * Scale shape: the corpus is touched exactly ONCE (the word-count
  * partial-agg shuffle); every training round runs over the vocab-sized
  * dictionary (orders of magnitude below corpus size) and ships exactly
  * one (pair, count) row to the driver — the k-means model-sized-driver-
  * traffic precedent. Rounds persist the dictionary and unpersist the
  * previous round (the iterative-frontier discipline), so round r never
  * replays rounds 1..r-1. A production 30k-merge run is 30k vocab-sized
  * jobs — seconds each; the corpus is never rescanned.
  *
  * Greedy merge semantics (pinned in BpeTrainerSpec and replayed by the
  * SQL oracle): scan left to right, merge at position i iff (s_i, s_{i+1})
  * is the pair and position i-1 did not just merge. Overlapping
  * occurrences exist only when lhs == rhs, where the scan takes every
  * OTHER position of each maximal run — the oracle expresses the same
  * rule as run-start parity (merged iff (i - runStart) is even), provably
  * the same set.
  */
object BpeTrainer {

  /** Greedy left-to-right merge of (lhs, rhs) in one symbol sequence —
    * the sequential kernel (legitimately a fold: each merge decision
    * depends on whether the previous position merged; vocab-sized input,
    * so the UDF-where-builtin rule's model-scope exception applies). */
  def mergeKernel(syms: Seq[String], lhs: String, rhs: String): Seq[String] = {
    if (syms == null) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == lhs && syms(i + 1) == rhs) {
        out += lhs + rhs
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toSeq
  }

  private val mergeUdf = udf(mergeKernel _)

  /** Adjacent symbol pairs of a materialized array column, as structs —
    * zip_with over two slices (no per-element indexing of an
    * unmaterialized array; the docBigrams shape). */
  private def adjacentPairs(sy: Column): Column = {
    val n1 = greatest(size(sy) - 1, lit(0))
    zip_with(slice(sy, lit(1), n1), slice(sy, lit(2), n1),
      (a, b) => struct(a.as("a"), b.as("b")))
  }

  private val mergeBatchUdf =
    udf((syms: Seq[String], ls: Seq[String], rs: Seq[String]) => {
      var s = syms
      var i = 0
      while (s != null && i < ls.length) {
        s = mergeKernel(s, ls(i), rs(i))
        i += 1
      }
      s
    })

  /** Learn `nMerges` BPE merges from the token stream of `docs`.
    * Returns the merge table (rank, lhs, rhs, pair_count) — model-sized.
    * Ties break (count desc, lhs asc, rhs asc); empty pair space stops
    * early. (No doc-id parameter: training sees only the word
    * multiset.)
    *
    * BATCHED rounds, sequentially EXACT: one round-trip per MERGE is
    * 30k driver jobs at production vocab, so each round takes the
    * longest prefix of the snapshot's (count desc, lhs, rhs)-sorted
    * pair list that provably equals what one-merge-at-a-time rounds
    * would pick:
    *
    *  - symbols pairwise DISJOINT from earlier batch merges — merging
    *    (a_i, b_i) then cannot change the candidate's own count;
    *  - any pair that could SPAWN a new pair tying the candidate —
    *    snapshot pairs (x, a_i) or (b_i, y), whose counts upper-bound
    *    every pair the merged symbol a_ib_i can form — with count
    *    STRICTLY ABOVE the candidate sorts earlier, so it either IS an
    *    accepted merge (then disjointness already vetoed it) or it
    *    stopped the prefix; EQUAL-count spawners are checked explicitly
    *    (a spawned tie can lex-sort past the candidate);
    *  - a self-pair (a == b) closes its batch: the merged symbol's
    *    run-pairs are bounded only by the pair's own count;
    *  - candidates at the collection limit's count close the batch
    *    (their ties may be cut off), unless the list was exhausted;
    *  - SYMBOL-STRING COLLISIONS close the batch: every multi-char
    *    snapshot symbol was minted by an earlier accepted merge, so a
    *    merge whose concatenation l+r equals any earlier merge's
    *    concatenation re-mints an EXISTING symbol — its spawned
    *    occurrences then add to snapshot pairs containing that symbol
    *    (possibly ones below the collection cutoff), which the spawner
    *    bound does not cover. Accepting such a merge is still exact
    *    (its own count predates the collision), but the batch closes
    *    right after it; symmetrically, a candidate whose lhs or rhs
    *    equals an in-batch concat stops the batch before acceptance
    *    (its snapshot count may already be boosted by the spawn).
    *
    * Under those guards the accepted prefix IS the next |batch| picks
    * of the sequential algorithm — including each pick's recorded
    * count, which the disjointness keeps unchanged — so the table is
    * identical (spec'd batched-vs-sequential, and the registry oracle
    * still replays plain sequential rounds).
    *
    * @param maxBatch merges per round upper bound; 1 = the classic
    *                 one-merge-per-round loop */
  def bpeTrain(docs: DataFrame, textCol: String,
               nMerges: Int, maxBatch: Int = 64): DataFrame = {
    require(maxBatch >= 1, "maxBatch must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // chars via substring transform: tokens are [a-z0-9]+ so one char ==
    // one byte == one codepoint in both engines.
    // Rounds materialize through CheckpointOps (flat LogicalRDD round
    // state), NOT persist(): a persist chain nests each round's
    // InMemoryRelation inside the next, and by round ~60 merely
    // RENDERING the cached plan's tree string (CachedRDDBuilder does it
    // on every persist call) takes minutes — jstack-verified in the
    // 64-merge A/B (SCALE.md, "Round 12: batched BPE training rounds").
    val start = materialize(
      docs
        .select(explode(Dedup.tokens(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .as("sy")))

    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    // every round merges at least one pair, so nMerges bounds the rounds;
    // the loop ends once the merge budget is spent, or at a round with no
    // pair left (which returns its state unchanged)
    val last = Rounds.iterate(start, nMerges, (_, _) => r > nMerges) {
        (state, _) =>
      val cur = state.df
      val want = math.min(nMerges - r + 1, maxBatch)
      val lim = want * 2 + 8
      val top = cur
        .select(col("freq"), explode(adjacentPairs(col("sy"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(lim).collect()
        .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
      if (top.isEmpty) state
      else {
        val exhausted = top.length < lim
        val minCnt = top.last._3
        val batch = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        val symbols = scala.collection.mutable.Set.empty[String]
        val lhsSet = scala.collection.mutable.Set.empty[String]
        val rhsSet = scala.collection.mutable.Set.empty[String]
        // every multi-char snapshot symbol IS some earlier merge's l+r
        // (initial symbols are single chars), so this set decides
        // "does the concatenation re-mint an existing symbol"
        val prevConcats = merges.iterator
          .map { case (_, l, rr, _) => l + rr }.toSet
        val batchConcats = scala.collection.mutable.Set.empty[String]
        var k = 0
        var stop = false
        while (!stop && k < top.length && batch.length < want) {
          val (a, b, cnt) = top(k)
          val tieCutOff = cnt == minCnt && !exhausted
          val touches = symbols.contains(a) || symbols.contains(b) ||
            batchConcats.contains(a) || batchConcats.contains(b)
          // equal-count spawner check: a snapshot (x, a_i) / (b_i, y)
          // tying this candidate could spawn a merged-symbol pair that
          // ties it AND lex-sorts past it
          val tieSpawner = batch.nonEmpty && top.exists { case (x, y, c) =>
            c == cnt && (lhsSet.contains(y) || rhsSet.contains(x))
          }
          if (k > 0 && (touches || tieCutOff || tieSpawner)) stop = true
          else {
            batch += ((a, b, cnt))
            symbols += a += b
            lhsSet += a
            rhsSet += b
            val concat = a + b
            // concat collides with an existing snapshot symbol (or an
            // in-batch twin): the spawn boosts pairs containing that
            // symbol — possibly below the collection cutoff — so no
            // later pick this round is provably next. This pick itself
            // is exact (its snapshot count predates the collision).
            if (prevConcats.contains(concat) ||
              batchConcats.contains(concat)) stop = true
            batchConcats += concat
            if (a == b) stop = true // self-pair closes the batch
            k += 1
          }
        }
        batch.foreach { case (a, b, cnt) =>
          merges += ((r, a, b, cnt))
          r += 1
        }
        val ls = batch.map(_._1).toSeq
        val rs = batch.map(_._2).toSeq
        materialize(cur
          .select(col("freq"),
            mergeBatchUdf(col("sy"), typedlit(ls), typedlit(rs))
              .as("sy")))
      }
    }
    last.release()
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
      .select(col("rank").cast("int").as("rank"), col("lhs"), col("rhs"),
        col("pair_count"))
  }

  /** Greedy application of an ORDERED merge list to one word —
    * [[mergeKernel]] folded over the ranks, the standard BPE encode. */
  def encodeKernel(word: String, lhs: Seq[String], rhs: Seq[String]): Int = {
    var syms: Seq[String] = word.map(_.toString)
    var r = 0
    while (r < lhs.length) {
      syms = mergeKernel(syms, lhs(r), rhs(r))
      r += 1
    }
    syms.length
  }

  /** Tokenize `docs` under a LEARNED merge table (the [[bpeTrain]]
    * output — closes the train→apply loop) and report the per-doc
    * subword count. The merge list is collected (model-sized — 30k
    * rows at production vocab) and CLOSED OVER by the kernel UDF, so it
    * ships once per executor in the task closure — a typedlit argument
    * would instead convert both arrays Catalyst→Scala once per token
    * row. One tokenize scan, one partial-agg shuffle. */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String,
                    merges: DataFrame): DataFrame = {
    val ms = merges.orderBy("rank").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val (lhs, rhs) = (ms.map(_._1).toSeq, ms.map(_._2).toSeq)
    val encodeUdf = udf((w: String) => encodeKernel(w, lhs, rhs))
    docs.select(col(idCol).as("doc_id"),
        explode(Dedup.tokens(col(textCol))).as("w"))
      .select(col("doc_id"), encodeUdf(col("w")).as("n_sub"))
      .groupBy("doc_id")
      .agg(sum("n_sub").cast("long").as("n_subwords"),
        count(lit(1)).as("n_words"))
  }
}
