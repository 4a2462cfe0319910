package graft.query

import graft.core.Bm25
import graft.index.PostingCodec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BM25 top-k serving over the block-encoded index — the Spark
  * re-expression of the reference's query path
  * (`vacuum_engine.h:201-258` → `query_processing.h:956-979` dispatch →
  * k-way leapfrog → lossy BM25 → bounded heap).
  *
  * Plan shape (all Catalyst-planned, one pipeline per query kind —
  * [[searchAll]] and [[searchAllPhrase]] serve a batch, [[search]] is a
  * one-query call of them):
  *   1. term lookup (P1): `postings.filter(term IN queryTerms)` — pushed to
  *     the parquet scan; blocks are written term-sorted so row-group min/max
  *     prune everything else. Query terms are broadcast, never shuffled.
  *   2. skip pruning (J3 analog) and block-max WAND: block rows are pruned
  *     driver-side by [firstDocId,lastDocId] overlap with the query's
  *     coverage intersection, then by score ceilings, before any decode.
  *   3. decode (P3): only (docIds, tfs, lenBytes) columns decoded for
  *     scoring; `positions` is touched only by the phrase path — parquet
  *     column pruning keeps it unread ("read as needed").
  *   4. conjunctive intersection (J2): groupBy(queryId, docId) with a count
  *     of matched terms — an equi-join on docId realized as one hash
  *     aggregation, partial/final, no join ordering issue at any arity.
  *   5. lossy BM25 (F5-F7): idf·tfNormLossy per slot over the inline norm
  *     byte, summed in slot order.
  *   6. exact per-query top-k (A5/O2/O3): [[TopKAggregator]] — per-partition
  *     bounded heaps merged pairwise, the same partial/final shape as the
  *     reference's per-query heap (tie rule per SURVEY.md §8.4).
  */
object Searcher {

  final case class Hit(docId: Int, score: Double, rank: Int)

  final case class LoadedIndex(spark: SparkSession, indexDir: String, nDocs: Long,
                               avgLen: Double, lossyCache: Array[Double],
                               asOfSeg: Option[Long] = None) {
    /** Driver-side per-term block-meta caches ([[MetaStore]]); LRU-bounded,
      * invalidated by [[ensureMetaCachesFresh]] when the live segment set
      * changes. Read each entry with ONE `get` — containsKey-then-get
      * races concurrent eviction. */
    private[query] val fineMetaCache: java.util.Map[String, Array[MetaStore.FineRow]] =
      MetaStore.lruMap(512)
    private[query] val coarseCovCache: java.util.Map[String, Array[(Int, Int)]] =
      MetaStore.lruMap(4096)
    /** [[postings]] re-reads the manifest-committed LIVE segment set per
      * call, so a long-lived LoadedIndex over a streaming index SEES new
      * appends — the meta caches must not pin a term's old block set.
      * [[MetaStore]] calls this before every cache use: when the committed
      * segment set changed, both caches drop (a directory listing, no
      * Spark job — segRead already pays the same listing per query).
      * Returns a monotonic invalidation epoch captured BEFORE the segment
      * listing; writers re-check it with [[metaCacheEpochIs]] before
      * caching. The epoch bumps on every clear, so a fetch whose view may
      * predate ANY later invalidation can never re-populate the cleared
      * cache — a stale thread's listing can race the install of a newer
      * stamp string, but it cannot rewind the epoch, so its puts are
      * rejected (one uncached query after a change, never stale meta). */
    private val metaCacheStamp =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    private val metaCacheEpoch =
      new java.util.concurrent.atomic.AtomicLong(0L)
    private[query] def ensureMetaCachesFresh(): Long = {
      val epoch = metaCacheEpoch.get() // BEFORE the listing, deliberately
      val stamp =
        if (!hasSegments) ""
        else liveSegments.mkString(",")
      if (metaCacheStamp.get() != stamp) synchronized {
        val cur = metaCacheStamp.get()
        if (cur != stamp) {
          metaCacheStamp.set(stamp)
          // first install (cur == null): the caches are still empty, so no
          // invalidation happened — don't bump, or the very first query's
          // puts would be rejected and the warm path would start cold twice
          if (cur != null) {
            fineMetaCache.clear()
            coarseCovCache.clear()
            metaCacheEpoch.incrementAndGet()
          }
        }
      }
      epoch
    }
    private[query] def metaCacheEpochIs(epoch: Long): Boolean =
      metaCacheEpoch.get() == epoch
    private def hasSegments: Boolean = {
      val d = java.nio.file.Paths.get(indexDir, "termstats")
      java.nio.file.Files.exists(d) && {
        val s = java.nio.file.Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.exists(_.getFileName.toString.startsWith("seg="))
        } finally s.close()
      }
    }
    /** Manifest-committed LIVE segments, optionally restricted to the
      * [[asOfSeg]] snapshot (segments with id <= asOfSeg): the Iceberg
      * time-travel analog over the segment commit log. Compaction retires
      * its source segments, so snapshots older than the last compaction
      * are no longer readable — the snapshot-expiry semantics Iceberg has
      * when old snapshots are cleaned up. Delete tombstones are Lucene
      * live-docs: they apply to whatever segments are visible, they are
      * not part of the segment snapshot. */
    private def liveSegments: Seq[Long] = {
      val live = graft.index.Manifest.committedSegments(indexDir)
      asOfSeg.fold(live)(n => live.filter(_ <= n))
    }
    /** For a segmented (streaming) index, restrict partition discovery to
      * the manifest-committed LIVE segments — an in-flight append or a
      * compaction between publish and cleanup leaves seg= directories on
      * disk that must not be read (exactly-once visibility). The isin
      * filter is partition pruning: retired dirs are never scanned. */
    private def segRead(stage: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$stage")
      if (!hasSegments) df
      else df.filter(col("seg").isin(liveSegments: _*))
    }
    def postings: DataFrame = segRead("postings")
    /** For an incrementally-built index (streaming segments) stats rows are
      * per (term, segment) and need summing; a batch index skips the extra
      * aggregation. */
    def termstats: DataFrame = {
      val raw = segRead("termstats")
      if (hasSegments) raw.groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
      else raw
    }
    /** Doc lengths: a columnar projection of the docstore (len/lenByte are
      * stored inline — parquet reads exactly these 3 columns). */
    def doclen: DataFrame = segRead("docstore").select("docId", "len", "lenByte")
    def docstore: DataFrame = segRead("docstore")
    /** Committed delete tombstones (union of generations), if any — the
      * Lucene live-docs analog ([[graft.index.Tombstones]]). None on the
      * common no-deletes index: the query path pays one directory listing,
      * no Spark job. */
    def tombstones: Option[DataFrame] =
      graft.index.Tombstones.read(spark, indexDir)
    /** Reversed-term dictionary (lazy, cached once per loaded index): the
      * leading-wildcard scale path. A `*suffix` glob has no literal prefix
      * to push into the sorted dictionary, so the naive rewrite LIKE-scans
      * every dictionary row — at 10^9 terms that is the whole dictionary
      * per query. Reversing the terms turns a literal suffix into a
      * literal PREFIX: this copy is range-partitioned and sorted by the
      * reversed term and cached, so a StartsWith probe prunes cached
      * batches by min/max stats — the same descent [[expandPrefix]] gets
      * from the forward dictionary (Lucene/Solr's ReversedWildcardFilter
      * plays the same trick with a reversed-token field). */
    lazy val revTermstats: DataFrame = {
      import org.apache.spark.sql.functions.reverse
      termstats
        .select(reverse(col("term")).as("rev"), col("term"), col("df"))
        .repartitionByRange(col("rev"))
        .sortWithinPartitions("rev")
        .cache()
    }
    /** Two-way phrase-pruning bloom store, if present AND covering every
      * live segment. The J5 semi-join keeps only docs with bloom rows, so a
      * store missing some segment's docs would silently drop phrase
      * candidates from those docs — partial coverage therefore disables
      * pruning entirely (lossy-safe: the positional check stays exact). */
    def bloom: Option[DataFrame] = {
      val p = java.nio.file.Paths.get(indexDir, "bloom")
      if (!java.nio.file.Files.exists(p)) None
      else if (!hasSegments) Some(spark.read.parquet(s"$indexDir/bloom"))
      else {
        val live = liveSegments
        if (!live.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s")))) None
        else Some(spark.read.parquet(s"$indexDir/bloom").filter(col("seg").isin(live: _*)))
      }
    }
    /** Trigram posting runs ([[graft.index.TrigramIndex]]), if present AND
      * covering every live segment — partial coverage disables the index
      * path entirely (candidates from a missing segment would silently
      * drop results; callers fall back to a full verify scan, still
      * exact). Cached: substring queries reuse the decoded store. */
    lazy val trigrams: Option[DataFrame] = {
      val p = java.nio.file.Paths.get(indexDir, "trigrams")
      if (!java.nio.file.Files.exists(p)) None
      else if (!hasSegments) {
        // batch stage: only a manifest-committed dir is readable (a crash
        // mid-write leaves parquet parts without the manifest)
        if (!graft.index.Manifest.isCommitted(indexDir, "trigrams")) None
        else Some(spark.read.parquet(s"$indexDir/trigrams").cache())
      } else {
        val live = liveSegments
        if (!live.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s")))) None
        else Some(spark.read.parquet(s"$indexDir/trigrams")
          .filter(col("seg").isin(live: _*)).drop("seg").cache())
      }
    }
    /** SymSpell deletion-neighborhood stage ([[graft.index.FuzzyIndex]]):
      * (rows, builtDist, segmented). A batch index serves its `fuzzy/`
      * stage; a SEGMENTED index serves the union of per-segment tables —
      * the probe then aggregates per-(seg, term) rows
      * ([[graft.index.FuzzyIndex.probeSegmented]]) — but only when EVERY
      * live segment carries a table (all-or-nothing: a partially-covered
      * index takes the exact dictionary-scan fallback; builtDist is the
      * MINIMUM over segments, the distance every table covers).
      * A `def` (like [[postings]]): the segment set is re-checked per
      * call, so an append lacking a fuzzy table stops serving the
      * segmented stage immediately. */
    def fuzzy: Option[(DataFrame, Int, Boolean)] =
      if (!hasSegments) {
        if (!graft.index.Manifest.isCommitted(indexDir, "fuzzy")) None
        else Some((spark.read.parquet(s"$indexDir/fuzzy"),
          graft.index.FuzzyIndex.stageMaxDist(indexDir), false))
      } else {
        val live = liveSegments
        val dists = live.map(s => graft.index.FuzzyIndex.segMaxDist(indexDir, s))
        if (live.isEmpty || dists.exists(_ <= 0)) None
        else Some((spark.read.option("basePath", s"$indexDir/fuzzy")
          .parquet(live.map(s => s"$indexDir/fuzzy/seg=$s"): _*),
          dists.min, true))
      }
    /** Persisted coarse super-block metadata (term, lo, hi) for
      * [[MetaStore]]'s two-level fetch. A batch index serves its
      * `superblocks/` stage; a SEGMENTED index serves the union of
      * per-segment stages when every live segment carries one (rows from
      * different segments are just more intervals — [[MetaStore]] merges
      * them); otherwise the per-query aggregation over postings remains
      * the fallback. A `def` for the same append-staleness reason as
      * [[fuzzy]]. */
    def superBlocks: Option[DataFrame] =
      if (!hasSegments) {
        if (!graft.index.Manifest.isCommitted(indexDir, "superblocks")) None
        else Some(spark.read.parquet(s"$indexDir/superblocks"))
      } else {
        val live = liveSegments
        val p = java.nio.file.Paths.get(indexDir, "superblocks")
        if (live.isEmpty ||
            !live.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s")))) None
        else Some(spark.read.option("basePath", s"$indexDir/superblocks")
          .parquet(live.map(s => s"$indexDir/superblocks/seg=$s"): _*))
      }
  }

  /** Load an index for querying. `asOfSeg` opens a SNAPSHOT read of a
    * segmented index — only segments committed with id <= asOfSeg are
    * visible, and the corpus stats (N, avgdl, hence every BM25 score) are
    * recomputed over exactly that snapshot, so an as-of query is
    * bit-identical to querying the index as it stood at that commit
    * (asserted in StreamingSpec). The segment manifests are the snapshot
    * log — the Iceberg-checkpoint resumability story read back as time
    * travel. */
  def load(spark: SparkSession, indexDir: String,
           asOfSeg: Option[Long] = None): LoadedIndex = {
    import spark.implicits._
    // nDocs and exact avg: integer sum / count — deterministic at any
    // parallelism (no FP accumulation-order dependence).
    // every scoring path reads the per-posting norm from the blocks' inline
    // `lenBytes` stream ([[decodedScoreRows]])
    val segs = graft.index.Manifest.committedSegments(indexDir)
      .filter(s => asOfSeg.forall(s <= _))
    require(graft.index.Manifest.stageColumns(indexDir, "postings", segs)
        .forall(_.contains("lenBytes")),
      s"index $indexDir: postings lack the inline lenBytes norm stream " +
        "(written by an older build) — rebuild the index")
    val probe = LoadedIndex(spark, indexDir, 0L, 0.0, Array.empty, asOfSeg)
    val (n, sumLen) = probe.doclen
      .agg(count(lit(1)), coalesce(sum($"len"), lit(0L)).cast("long"))
      .as[(Long, Long)].head()
    val avg = if (n == 0) 0.0 else sumLen.toDouble / n
    LoadedIndex(spark, indexDir, n, avg, Bm25.lossyCache(avg), asOfSeg)
  }

  /** `bloom_enable_factor` sentinel: never consult the bloom store
    * (reference `types.h:54`). */
  val BloomNeverUse = 0

  /** Decode posting blocks into scoring rows (term, docId, tf, lenByte).
    * The lenByte comes from the block's own `lenBytes` stream, so every
    * scoring pipeline runs with ZERO joins against per-doc state (at 10^10
    * docs a (docId, lenByte) projection is neither broadcastable nor cheap
    * to shuffle decoded postings against). */
  def decodedScoreRows(ix: LoadedIndex, blocks: DataFrame): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    blocks.select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs, lbs) =>
        val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
        val lb = PostingCodec.decodeLenBytes(n, lbs)
        dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, lb(i)) }
      }
      .toDF("term", "docId", "tf", "lenByte")
  }

  /** BM25 top-k for ONE query: a one-query call of the batched pipeline —
    * [[searchAllPhrase]] for phrase and proximity queries, [[searchAll]]
    * for everything else (conjunctive or `conjunctive = false` OR terms,
    * NOT terms, boosts, block-max WAND). Every option keeps its batched
    * meaning: `after` is the search_after cursor, `bloomFactor` the
    * reference's `bloom_enable_factor` (see [[searchAllPhrase]]).
    * Returns (docId, score, rank), rank 1-based. */
  def search(ix: LoadedIndex, queryTerms: Seq[String], k: Int,
             phrase: Boolean = false, bloomFactor: Int = 1,
             wandMinPostings: Long = 50000L,
             conjunctive: Boolean = true,
             excludeTerms: Seq[String] = Nil,
             slop: Int = 0,
             after: Option[(Double, Int)] = None,
             boosts: Map[String, Double] = Map.empty,
             phraseShifts: Option[Seq[Int]] = None): Dataset[Hit] = {
    require(conjunctive || !phrase, "phrase queries are conjunctive by definition")
    val q = Seq(0 -> queryTerms)
    def one[V](v: Option[V]): Map[Int, V] = v.map(0 -> _).toMap
    val ex = one(Some(excludeTerms).filter(_.nonEmpty))
    val bs = one(Some(boosts).filter(_.nonEmpty))
    hitsOf(
      if (phrase)
        searchAllPhrase(ix, q, k, one(Some(slop).filter(_ != 0)), ex, bs,
          one(phraseShifts), Map(0 -> bloomFactor), one(after))
      else
        searchAll(ix, q, k, if (conjunctive) Set.empty else Set(0), ex,
          wandMinPostings, bs, one(after)))
  }

  /** The hits of a one-query (queryId, rank, docId, score) frame, ranked. */
  private[query] def hitsOf(rows: DataFrame): Dataset[Hit] = {
    import rows.sparkSession.implicits._
    rows.select($"docId", $"score", $"rank").as[(Int, Double, Int)].collect()
      .sortBy(_._3).map { case (d, s, r) => Hit(d, s, r) }.toSeq.toDS()
  }

  /** Dictionary prefix probe — the trie-range analog (P4).
    *
    * The reference's term dictionary is a HAT-trie
    * (`tsl::htrie_map<char,...>`, `term_index.h:101-163`) whose native range
    * operation is `equal_prefix_range` (`tsl/htrie_hash.h`); the C++ engine
    * only ever point-probes it, so prefix expansion is an extension that
    * completes the container's semantics — the query a source-code search
    * user actually types (`ret*` for identifiers). Here the probe is a
    * `StartsWith` filter pushed into the termstats parquet scan (row groups
    * pruned by the term column's min/max statistics — the sorted-dictionary
    * analog of a trie descent).
    *
    * Expansion is capped at `maxExpansion` terms, picked deterministically
    * by (df desc, term asc) — the highest-signal sub-terms, matching
    * Lucene's bounded multi-term rewrite policy. Deterministic cap order
    * keeps the operator oracle-verifiable even when the cap binds.
    */
  def expandPrefix(ix: LoadedIndex, prefix: String, maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (prefix.isEmpty || maxExpansion <= 0) return Nil
    ix.termstats
      .filter($"term".startsWith(prefix))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Prefix BM25 top-k: expand `prefix` against the dictionary, then score
    * the expansion disjunctively (each matched sub-term contributes its own
    * idf-weighted partial, absent sub-terms contribute nothing) with the
    * same union block coverage + WAND θ-prune as [[search]]'s OR mode. */
  def searchPrefix(ix: LoadedIndex, prefix: String, k: Int,
                   maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandPrefix(ix, prefix, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Fuzzy dictionary probe: terms within `maxDist` Levenshtein edits of
    * `term` (typo tolerance — `qurey` finds `query`), with the SAME
    * deterministic (df desc, term asc) cap rule as [[expandPrefix]].
    * The exact `term` itself is included when present.
    *
    * The filter is the codegen'd built-in `levenshtein(_, _, threshold)`
    * (banded DP, early-exit above the threshold) behind a pushed length
    * band `abs(len(t) - len(term)) <= maxDist` — parquet row groups whose
    * term-length stats miss the band are pruned via the min/max on the
    * sorted dictionary. Cost is a DICTIONARY scan (≪ corpus; the
    * reference's htrie could answer this by bounded-error traversal but
    * the C++ engine never does); for serving-scale QPS the deletion-
    * neighborhood index (SymSpell) is the known upgrade with the same
    * output contract. */
  def expandFuzzy(ix: LoadedIndex, term: String, maxDist: Int = 1,
                  maxExpansion: Int = 16): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (term.isEmpty || maxExpansion <= 0) return Nil
    val cands = ix.fuzzy match {
      // SymSpell stage: one bounded `del IN (...)` probe instead of a
      // dictionary scan — identical output (superset candidates, exact
      // threshold-Levenshtein verify, same cap rule); a segmented index
      // probes the per-segment tables and sums per-segment dfs
      case Some((table, builtDist, segmented)) if maxDist <= builtDist =>
        if (segmented) graft.index.FuzzyIndex.probeSegmented(table, term, maxDist)
        else graft.index.FuzzyIndex.probe(table, term, maxDist)
      case _ =>
        ix.termstats
          .filter(abs(length($"term") - lit(term.length)) <= maxDist)
          .filter(levenshtein($"term", lit(term), maxDist) >= 0) // -1 = over threshold
          .select($"term", $"df")
    }
    cands
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Wildcard glob → SQL LIKE translation: `*` → `%`, `?` → `_`. The term
    * alphabet's own `_` (a legal token character in source code) is escaped
    * so it stays literal. Shared by the Spark (`Column.like`) and oracle
    * (`LIKE ... ESCAPE '\'`) contracts — both use backslash escapes. */
  private[graft] def wildcardToLike(pattern: String): String =
    pattern.flatMap {
      case '*' => "%"
      case '?' => "_"
      case '_' => "\\_"
      case '%' => "\\%" // not a token char; defensive
      case c   => c.toString
    }

  /** Wildcard dictionary probe (Lucene `WildcardQuery` rewrite analog):
    * dictionary terms matching a glob with `*` (any run) and `?` (one
    * char), e.g. `s*a*` or `re?urn`. The longest literal prefix before the
    * first wildcard is pushed as a `StartsWith` into the termstats scan
    * (min/max row-group pruning on the sorted dictionary — same descent as
    * [[expandPrefix]]); the full glob evaluates as a codegen'd LIKE on the
    * survivors. Deterministic (df desc, term asc) cap, as every expansion
    * here. */
  def expandWildcard(ix: LoadedIndex, pattern: String,
                     maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val litSuffix = pattern.reverse.takeWhile(c => c != '*' && c != '?').reverse
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter($"term".startsWith(litPrefix))
      else if (litSuffix.nonEmpty)
        // leading wildcard: probe the reversed dictionary so the literal
        // SUFFIX prunes (a `*turn` query descends on "nrut" instead of
        // LIKE-scanning the whole dictionary)
        ix.revTermstats.filter($"rev".startsWith(litSuffix.reverse))
          .select($"term", $"df")
      else ix.termstats // `*lit*` middle-literal globs: full dictionary LIKE
    base
      .filter($"term".like(wildcardToLike(pattern)))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Wildcard BM25 top-k: disjunctive scoring of the glob expansion — the
    * bounded multi-term rewrite, same evaluation as [[searchPrefix]]. */
  def searchWildcard(ix: LoadedIndex, pattern: String, k: Int,
                     maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandWildcard(ix, pattern, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Fuzzy BM25 top-k: score the edit-distance expansion disjunctively —
    * the multi-term rewrite of a typo'd query, same evaluation as
    * [[searchPrefix]]. */
  def searchFuzzy(ix: LoadedIndex, term: String, k: Int, maxDist: Int = 1,
                  maxExpansion: Int = 16): Dataset[Hit] = {
    val terms = expandFuzzy(ix, term, maxDist, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Synonym-group BM25 top-k over the index (Lucene `SynonymQuery`
    * semantics — the engine path of the graded `a5_bm25_syn_topk`
    * contract): each group of synonymous terms scores as ONE pseudo-term —
    * per-doc tf is the exact integer SUM over member tfs, groups combine
    * conjunctively (a doc matches a group when ANY member occurs; a group
    * whose members are all absent voids the query, the P2 analog).
    *
    * Blended document frequency, `exactDf`:
    *  - true (default; the oracle contract): df_g = distinct docs
    *    containing ANY member — one extra counting aggregation decoding the
    *    groups' FULL member lists (union df is not derivable from per-term
    *    metadata);
    *  - false: Lucene's production rewrite (`SynonymQuery` uses the MAX
    *    member docFreq) — metadata-only from termstats, the scale-safe
    *    serving choice; matching set identical, scores differ.
    *
    * Plan: coverage = intersection over groups of the union of member
    * block ranges (the J3 skip analog: a rare group prunes a hot group's
    * lists); per-(group, doc) integer tf sums, then the same codegen'd
    * slot-ordered score sum as every other path. */
  def searchSynonym(ix: LoadedIndex, groups: Seq[Seq[String]], k: Int,
                    exactDf: Boolean = true): Dataset[Hit] = {
    val spark = ix.spark
    import spark.implicits._
    val grps = groups.map(_.distinct)
    require(grps.flatten.distinct.size == grps.flatten.size,
      "a term may belong to only one synonym group")
    if (grps.isEmpty || k <= 0) return spark.emptyDataset[Hit]
    val allMembers = grps.flatten
    val dfs: Map[String, Long] = ix.termstats
      .filter($"term".isin(allMembers: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    val liveGroups = grps.map(_.filter(dfs.contains))
    if (liveGroups.exists(_.isEmpty)) return spark.emptyDataset[Hit] // P2 analog
    val liveTerms = liveGroups.flatten
    val blocks = ix.postings.filter($"term".isin(liveTerms: _*))
    val meta = rangesByTerm(MetaStore.fineMeta(ix, blocks, liveTerms, dfs, Seq(liveGroups))
      .map(r => (r._1, r._2, r._3)))
    // conjunctive-over-groups coverage: ∩_g (∪_{m∈g} ranges(m))
    val perGroupCov = liveGroups.map(g =>
      BlockMax.unionCoverage(g.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))))
    val candidates = perGroupCov.reduceLeft { (a, b) =>
      val am = a.map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))
      BlockMax.intersectCoverage(Seq(am,
        b.map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))))
    }
    if (candidates.isEmpty) return spark.emptyDataset[Hit]
    val keys: Set[(String, Int)] = liveTerms.iterator.flatMap { t =>
      val m = meta.getOrElse(t, Array.empty[BlockMax.BlockMeta])
      BlockMax.overlapping(m, candidates).iterator.map(i => (t, m(i).first))
    }.toSet
    def decode(keySet: Set[(String, Int)]): DataFrame =
      decodedScoreRows(ix,
        blocks.join(broadcast(keySet.toSeq.toDF("term", "firstDocId")),
          Seq("term", "firstDocId"), "left_semi"))
    val groupDf = broadcast(liveGroups.zipWithIndex
      .flatMap { case (g, i) => g.map(t => (t, i)) }.toDF("term", "gid"))
    // blended df per group
    val dfG: Map[Int, Long] =
      if (!exactDf)
        liveGroups.zipWithIndex.map { case (g, i) => i -> g.map(dfs).max }.toMap
      else {
        // GLOBAL union-df per group: decode every block of the live terms
        // (no key semi-join — the full stat needs them all, and skipping
        // the driver-side key set keeps meta access coverage-bounded)
        decodedScoreRows(ix, blocks).join(groupDf, "term")
          .select("gid", "docId").distinct()
          .groupBy("gid").agg(count(lit(1)).as("df"))
          .as[(Int, Long)].collect().toMap
      }
    val idfRows = liveGroups.indices.map(i => (i, Bm25.idf(ix.nDocs, dfG(i))))
    val idfDf = broadcast(idfRows.toDF("gid", "idf"))
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val nGroups = liveGroups.size
    val scored = decode(keys)
      .join(groupDf, "term")
      .groupBy($"gid", $"docId")
      // exact integer blended tf; lenByte is functionally dependent on
      // docId (every decoded row of a doc carries the same norm) so max()
      // just picks the value — no doc-length join after the aggregation
      .agg(sum($"tf").cast("long").as("tfg"), max($"lenByte").as("lenByte"))
      .join(idfDf, "gid")
      .withColumn("partScore", $"idf" *
        ($"tfg" * lit(Bm25.K1 + 1.0) / ($"tfg" + element_at(cacheLit, $"lenByte" + 1))))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        collect_list(struct($"gid".cast("int").as("slot"), $"partScore")).as("sps"))
      .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      .filter($"nMatched" === nGroups)
    val withDel = ix.tombstones
      .map(d => scored.join(d, Seq("docId"), "left_anti")).getOrElse(scored)
    val hits = withDel
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select($"docId".cast("int"), $"score")
      .as[(Int, Double)].collect()
      .zipWithIndex.map { case ((d, s), i) => Hit(d, s, i + 1) }
    hits.toSeq.toDS()
  }

  /** Deep paging ("search_after" cursor — the Elasticsearch analog; the
    * reference serves only page one, `engine_bench.cc` never pages): return
    * the next `k` hits STRICTLY AFTER the cursor `(afterScore, afterDocId)`
    * in the global (score desc, docId asc) total order. Stateless and
    * O(k + decode) per page — no offset-k materialization (a `LIMIT n
    * OFFSET m` pages by scoring m+n rows; the cursor pages by filtering on
    * the total order, so page 100 costs the same as page 1), and cursor
    * pages are consistent: the union of consecutive pages equals the full
    * ranking's slices (asserted in EngineSpec). Ranks are LOCAL to the page
    * (1-based). */
  def searchAfter(ix: LoadedIndex, queryTerms: Seq[String], k: Int,
                  afterScore: Double, afterDocId: Int,
                  phrase: Boolean = false,
                  conjunctive: Boolean = true): Dataset[Hit] =
    search(ix, queryTerms, k, phrase = phrase, conjunctive = conjunctive,
      after = Some((afterScore, afterDocId)))

  /** Longest regex prefix that is certainly literal: leading token-alphabet
    * chars (`[a-z0-9_]`), minus the last one if a quantifier (`? * + {`)
    * follows (it makes that char optional/repeated), and nothing at all if
    * the pattern contains a top-level-ambiguous `|` (in `ab|cd` the prefix
    * `ab` is not required). Conservative by construction — used only to
    * push a `StartsWith` into the dictionary scan, never to change
    * semantics. */
  private[graft] def regexLiteralPrefix(pattern: String): String = {
    if (pattern.contains('|')) return ""
    val lit = pattern.takeWhile(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    if (lit.length < pattern.length && "?*+{".contains(pattern.charAt(lit.length)))
      lit.dropRight(1)
    else lit
  }

  /** Regex dictionary probe (Lucene `RegexpQuery` rewrite analog):
    * dictionary terms FULLY matched by `pattern` (Lucene regexps are
    * implicitly anchored; we anchor explicitly as `^(?:p)$` so Spark's
    * partial-match RLIKE gets the same contract). The certainly-literal
    * prefix ([[regexLiteralPrefix]]) is pushed as a `StartsWith` into the
    * termstats scan — min/max row-group pruning on the sorted dictionary,
    * the same descent as [[expandPrefix]] — and the full regex evaluates
    * as a codegen'd RLIKE on the survivors. Deterministic (df desc,
    * term asc) cap, as every expansion here.
    *
    * Patterns are restricted by contract to the Java∩RE2 common subset
    * (classes, alternation, bounded/unbounded repetition — no
    * backreferences or lookaround) so the operator stays oracle-exact. */
  def expandRegex(ix: LoadedIndex, pattern: String,
                  maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = regexLiteralPrefix(pattern)
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter($"term".startsWith(litPrefix))
      else ix.termstats
    base
      .filter($"term".rlike(s"^(?:$pattern)$$"))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Spell suggestion ("did you mean" — Lucene `DirectSpellChecker`
    * analog): dictionary terms within `maxDist` edits of `term`, ranked by
    * (distance asc, df desc, term asc) — closest first, popularity breaks
    * ties — unlike [[expandFuzzy]]'s pure df rewrite order. The exact term
    * itself, when indexed, is its own distance-0 first suggestion, which
    * callers use as the "no correction needed" signal. Same pushed length
    * band + threshold levenshtein as [[expandFuzzy]]; cost is a dictionary
    * scan, never a corpus scan. Returns (term, dist, df). */
  def suggest(ix: LoadedIndex, term: String, maxDist: Int = 2,
              maxSuggestions: Int = 3): Seq[(String, Int, Long)] = {
    val spark = ix.spark
    import spark.implicits._
    if (term.isEmpty || maxSuggestions <= 0) return Nil
    val cands = ix.fuzzy match {
      case Some((table, builtDist, segmented)) if maxDist <= builtDist =>
        if (segmented) graft.index.FuzzyIndex.probeSegmented(table, term, maxDist)
        else graft.index.FuzzyIndex.probe(table, term, maxDist)
      case _ =>
        ix.termstats
          .filter(abs(length($"term") - lit(term.length)) <= maxDist)
          .filter(levenshtein($"term", lit(term), maxDist) >= 0)
          .select($"term", $"df")
    }
    cands
      .select($"term", levenshtein($"term", lit(term)).as("dist"), $"df")
      .orderBy(asc("dist"), desc("df"), asc("term"))
      .limit(maxSuggestions)
      .as[(String, Int, Long)]
      .collect()
      .toSeq
  }

  /** Regex BM25 top-k: disjunctive scoring of the regex expansion — the
    * bounded multi-term rewrite, same evaluation as [[searchPrefix]]. */
  def searchRegex(ix: LoadedIndex, pattern: String, k: Int,
                  maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandRegex(ix, pattern, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** More-like-this (Lucene `MoreLikeThis` analog; absent in the
    * reference): find docs similar to `docId` by extracting its top
    * `maxTerms` terms by tf·idf and running them as a disjunctive BM25
    * query, the source doc removed from the result.
    *
    * Determinism contract: term importance is the MICRO-rounded
    * `tf · idf` (integer), ties broken by term asc — the same rule the
    * graded oracle recomputes in SQL. Costs one pushed-filter docstore
    * probe (row-group pruned on docId) + one termstats probe + one
    * disjunctive search; the tokenize of a single body is driver-side by
    * design (bodies are KBs). */
  def moreLikeThis(ix: LoadedIndex, docId: Int, k: Int,
                   maxTerms: Int = 8): Dataset[Hit] = {
    val spark = ix.spark
    import spark.implicits._
    val body = ix.docstore.filter(col("docId") === docId)
      .select("content").as[String].collect()
    if (body.isEmpty || k <= 0) return spark.emptyDataset[Hit]
    val tfMap: Map[String, Int] = graft.core.Tokenizer.terms(body.head)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    if (tfMap.isEmpty) return spark.emptyDataset[Hit]
    val dfs = ix.termstats.filter($"term".isin(tfMap.keys.toSeq: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    val ranked = tfMap.toSeq
      .flatMap { case (t, tf) =>
        dfs.get(t).map(df => (t, math.round(tf * Bm25.idf(ix.nDocs, df) * 1e6)))
      }
      .sortBy { case (t, imp) => (-imp, t) }
      .take(maxTerms).map(_._1)
    if (ranked.isEmpty) return spark.emptyDataset[Hit]
    val hits = search(ix, ranked, k + 1, conjunctive = false).collect()
      .filter(_.docId != docId).sortBy(_.rank).take(k)
      .zipWithIndex.map { case (h, i) => Hit(h.docId, h.score, i + 1) }
    hits.toSeq.toDS()
  }

  /** ALL docIds matching the conjunction (no top-k) — the relational bridge
    * from a search match to downstream Spark ops (facets, joins, exports).
    * Same block-coverage intersection as [[search]] (only blocks inside
    * every term's coverage decode), same P2 guard; exclusion terms prune
    * like [[search]]'s NOT. Returns a single `docId` (int) column. */
  def matchingDocs(ix: LoadedIndex, queryTerms: Seq[String],
                   excludeTerms: Seq[String] = Nil): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty = Seq.empty[Int].toDF("docId")
    val terms = queryTerms.distinct
    if (terms.isEmpty || excludeTerms.exists(terms.contains)) return empty
    val ex = excludeTerms.distinct
    val dfsAll: Map[String, Long] = ix.termstats
      .filter($"term".isin(terms ++ ex: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    if (terms.exists(t => !dfsAll.contains(t))) return empty
    val blocks = ix.postings.filter($"term".isin(terms ++ ex: _*))
    val posBlocks = ix.postings.filter($"term".isin(terms: _*))
    val posMeta = rangesByTerm(MetaStore.fineMeta(ix, posBlocks, terms, dfsAll,
      Seq(terms.map(Seq(_)))).map(r => (r._1, r._2, r._3)))
    val candidates = BlockMax.intersectCoverage(
      terms.map(t => posMeta.getOrElse(t, Array.empty[BlockMax.BlockMeta])))
    if (candidates.isEmpty) return empty
    // exclusion meta bounded by the positive candidates' coverage
    val exMeta =
      if (ex.isEmpty) Map.empty[String, Array[BlockMax.BlockMeta]]
      else rangesByTerm(MetaStore.boundedRangeMeta(ix, ex, candidates, dfsAll))
    val meta = posMeta ++ exMeta
    def decodeIds(sel: Seq[String]): DataFrame = {
      val keys = sel.flatMap { t =>
        val m = meta.getOrElse(t, Array.empty[BlockMax.BlockMeta])
        BlockMax.overlapping(m, candidates).map(i => (t, m(i).first))
      }
      if (keys.isEmpty) return spark.emptyDataset[(String, Int)].toDF("term", "docId")
      val keysDf = broadcast(keys.toDF("term", "firstDocId"))
      blocks.join(keysDf, Seq("term", "firstDocId"), "left_semi")
        .select("term", "prevDocId", "n", "docIds", "tfs")
        .as[(String, Int, Int, Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs) =>
          PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
        }.toDF("term", "docId")
    }
    // terms are distinct and each (term, docId) posting is unique across
    // blocks (salted shards partition the docId space), so a plain count
    // equals the distinct-term count without countDistinct's Expand
    val matched = decodeIds(terms)
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"))
      .filter($"nMatched" === terms.size)
      .select("docId")
    val exLive = ex.filter(meta.contains)
    if (exLive.isEmpty) matched
    else matched.join(decodeIds(exLive).select("docId").distinct(), Seq("docId"), "left_anti")
  }

  /** Facet counts over ALL matching docs — matching-doc count per value of
    * a docstore metadata column (the standard search-engine facet panel;
    * absent in the reference, whose doc store is body-only —
    * `flash_doc_store.h`). One pruned decode + one broadcast-ish join +
    * one partial-agg count; never materializes the match set on the
    * driver. */
  def facetCounts(ix: LoadedIndex, queryTerms: Seq[String], facetCol: String,
                  excludeTerms: Seq[String] = Nil): DataFrame =
    matchingDocs(ix, queryTerms, excludeTerms)
      .join(ix.docstore.select(col("docId"), col(facetCol)), "docId")
      .groupBy(col(facetCol))
      .agg(count(lit(1)).as("n_docs"))

  /** Histogram facet (the ES `histogram` aggregation): matching-doc counts
    * per fixed-width bucket of a numeric docstore column — same matched
    * set and join shape as [[facetCounts]], bucket = floor(col / width). */
  def facetHistogram(ix: LoadedIndex, queryTerms: Seq[String], numCol: String,
                     width: Long, excludeTerms: Seq[String] = Nil): DataFrame = {
    require(width > 0, "bucket width must be positive")
    matchingDocs(ix, queryTerms, excludeTerms)
      .join(ix.docstore.select(col("docId"), col(numCol)), "docId")
      .groupBy(floor(col(numCol) / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Pruning diagnostics of the most recent [[searchAll]] or
    * [[searchAllPhrase]] call on this JVM, batch totals (driver-side; for
    * tests and benchmarks, not part of the query result). */
  val lastDiag = new java.util.concurrent.atomic.AtomicReference[BlockMax.Diag]()

  private def emptyRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
  }

  private def termDfs(ix: LoadedIndex, terms: Seq[String]): Map[String, Long] = {
    val spark = ix.spark
    import spark.implicits._
    ix.termstats.filter($"term".isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
  }

  private def requirePositive(boosts: Map[Int, Map[String, Double]]): Unit =
    // boosts scale each slot's idf weight; non-positive boosts would break
    // the BMW ceiling rule (ub would no longer upper-bound the slot score)
    require(boosts.valuesIterator.flatMap(_.valuesIterator).forall(_ > 0.0),
      "boosts must be positive")

  /** Per-term block docId ranges, ascending (no score ceilings). */
  private def rangesByTerm(rows: Iterable[(String, Int, Int)]): Map[String, Array[BlockMax.BlockMeta]] =
    rows.groupBy(_._1).map { case (t, rs) =>
      t -> rs.toArray.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
    }

  /** Skip-pruned NOT-term exclusion shared by both batched pipelines: the
    * (queryId, docId) pairs of each query's excluded terms. Exclusion meta
    * is fetched only inside the union of the batch's candidate coverage,
    * and only the exclusion blocks overlapping THAT query's coverage decode
    * — a hot excluded term (`-return` over source code) costs only the
    * slice of its postings that can intersect the required terms. */
  private def exclusionPairs(ix: LoadedIndex, cands: Seq[(Int, Array[(Int, Int)])],
                             excludes: Map[Int, Seq[String]],
                             dfs: Map[String, Long]): Option[DataFrame] = {
    val spark = ix.spark
    import spark.implicits._
    val perQ = cands.flatMap { case (qid, cand) =>
      excludes.get(qid).map(ex => (qid, ex.distinct, cand))
    }
    val allEx = perQ.flatMap(_._2).distinct
    if (allEx.isEmpty) return None
    val exMeta = rangesByTerm(
      MetaStore.boundedRangeMeta(ix, allEx, MetaStore.unionIv(cands.map(_._2)), dfs))
    val exKeys: Set[(String, Int)] = perQ.iterator.flatMap { case (_, ex, cand) =>
      ex.iterator.flatMap { t =>
        exMeta.get(t).iterator.flatMap { m =>
          BlockMax.overlapping(m, cand).iterator.map(i => (t, m(i).first))
        }
      }
    }.toSet
    if (exKeys.isEmpty) return None
    val qExDf = broadcast(perQ.flatMap { case (qid, ex, _) => ex.map((qid, _)) }
      .toDF("queryId", "term"))
    Some(ix.postings.filter($"term".isin(allEx: _*))
      .join(broadcast(exKeys.toSeq.toDF("term", "firstDocId")),
        Seq("term", "firstDocId"), "left_semi")
      .select("term", "prevDocId", "n", "docIds", "tfs")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
      }
      .toDF("term", "docId")
      .join(qExDf, "term")
      .select("queryId", "docId").distinct())
  }

  /** Doc-level filters every scored (queryId, docId, score) frame passes
    * before its top-k heap: NOT-term exclusion pairs, delete tombstones,
    * then the per-query `after` cursor. The WAND pilot passes them too, so
    * θ is the kth score over exactly the docs the main job may return and
    * block pruning stays sound for any page. Stats (N, avgdl, df, idf) stay
    * pre-delete — Lucene semantics: surviving docs score identically until
    * a merge re-baselines them. The cursor predicate on (score desc, docId
    * asc) is exact because scores are bitwise-deterministic. */
  private def admitted(ix: LoadedIndex, scored: DataFrame, exPairs: Option[DataFrame],
                       after: Map[Int, (Double, Int)]): DataFrame = {
    import ix.spark.implicits._
    val afterEx = exPairs.map(e => scored.join(e, Seq("queryId", "docId"), "left_anti"))
      .getOrElse(scored)
    val live = ix.tombstones.map(d => afterEx.join(d, Seq("docId"), "left_anti"))
      .getOrElse(afterEx)
    if (after.isEmpty) live
    else live
      .join(broadcast(after.toSeq.map { case (q, (s, d)) => (q, s, d) }
        .toDF("queryId", "afterScore", "afterDocId")), Seq("queryId"), "left_outer")
      .filter($"afterScore".isNull || $"score" < $"afterScore" ||
        ($"score" === $"afterScore" && $"docId" > $"afterDocId"))
      .drop("afterScore", "afterDocId")
  }

  /** Per-query exact top-k via the bounded-heap Aggregator (A5): partial
    * per-partition heaps + pairwise merge — no per-query full sort (a
    * window row_number would sort every matched doc). Input columns
    * (queryId, docId, score); returns (queryId, rank, docId, score). */
  private[query] def topKRows(df: DataFrame, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"queryId", $"docId", $"score")
      .as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, s), i) => (qid, i + 1, d, s) }
      }
      .toDF("queryId", "rank", "docId", "score")
  }

  /** Batch search: many queries at once — a bounded number of Spark jobs
    * for the whole query set (queryId, terms), and the only non-phrase BM25
    * pipeline ([[search]] is a one-query call of it).
    *
    * Block pruning (J3): per query, the candidate docId space is the
    * intersection of its terms' block coverage over the collected df/128
    * metadata (the union for a disjunctive query), and the union of every
    * query's surviving (term, firstDocId) keys is the only set of blocks
    * decoded — a hot∧hot∧...∧rare batch decodes the hot terms only where
    * the rare terms have coverage. Exactness: range pruning is
    * conservative per query (a doc matching ALL of a query's terms lies in
    * every term's coverage, hence in the intersection), and extra blocks
    * decoded for one query only add candidate rows for another that its
    * own `nMatched == nTerms` conjunctive filter discards.
    *
    * WAND θ-prune (BMW — the hot∧hot case range pruning cannot touch):
    * queries whose range-surviving posting estimate exceeds
    * `wandMinPostings` share ONE pilot job — each contributes its
    * highest-ceiling candidate intervals ([[BlockMax.pilotIntervals]]), the
    * union of pilot blocks is decoded once, and a per-query bounded heap
    * yields θ_q = that query's exact kth pilot score (kth-best is monotone
    * in set inclusion, so θ_q never exceeds the true kth score — pruning on
    * it is conservative). A block b of term t then survives query q only if
    * mult_q(t)·ub_t(b) + Σ_{t'≠t∈q} mult_q(t')·maxUb(t', b.range) ≥ θ_q:
    * that upper-bounds ANY doc in b's total score, so every block of a doc
    * with true score ≥ θ_q survives. Cross-query block sharing is sound
    * both ways: a conjunctive doc's `nMatched == nTerms` implies every one
    * of its term rows was decoded (complete score), and a disjunctive doc's
    * partial score only understates.
    *
    * Per-query inputs, keyed by queryId:
    *  - `disjunctive`: OR mode (the prefix / SearchOperator::OR semantics,
    *    declared `types.h:70` but never implemented by the reference) —
    *    absent terms contribute nothing instead of voiding the query (P2,
    *    `qq_mem_engine.h:345-347`), coverage is the union, and the
    *    `nMatched == nTerms` filter does not apply;
    *  - `excludes`: NOT terms (Lucene MUST_NOT), skip-pruned
    *    ([[exclusionPairs]]); a conjunctive query with a required term
    *    that is also excluded is unsatisfiable;
    *  - `boosts`: per-term query-time boost (Lucene `term^B`);
    *  - `after`: the search_after cursor (score, docId).
    * Exclusions, tombstones and cursors filter the pilot AND the main job
    * ([[admitted]]), so θ_q is computed over admissible docs only.
    * Returns (queryId, rank, docId, score). */
  def searchAll(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                disjunctive: Set[Int] = Set.empty,
                excludes: Map[Int, Seq[String]] = Map.empty,
                wandMinPostings: Long = 50000L,
                boosts: Map[Int, Map[String, Double]] = Map.empty,
                after: Map[Int, (Double, Int)] = Map.empty): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    requirePositive(boosts)
    val allTerms = queries.flatMap(_._2).distinct
    if (allTerms.isEmpty || k <= 0) return emptyRows(spark)
    // one stats fetch covers positive AND exclusion terms (the latter so
    // the exclusion meta fetch can df-estimate its direct-path escape)
    val dfs = termDfs(ix, (allTerms ++ excludes.valuesIterator.flatten).distinct)
    val idfs = dfs.map { case (t, d) => t -> Bm25.idf(ix.nDocs, d) }
    val live = queries
      .map { case (qid, ts) =>
        (qid, if (disjunctive(qid)) ts.filter(dfs.contains) else ts)
      }
      .filter { case (qid, ts) =>
        ts.nonEmpty && (disjunctive(qid) || ts.forall(dfs.contains)) &&
          (disjunctive(qid) || !excludes.getOrElse(qid, Nil).exists(ts.contains))
      }
    if (live.isEmpty) return emptyRows(spark)
    val liveTerms = live.flatMap(_._2).distinct
    // one row per query SLOT (a repeated term scores once per slot,
    // `scoring.h:133-142`): scores are re-added in slot order by the
    // codegen'd SlotOrderedSum below, so engine scores are
    // bitwise-deterministic and bitwise-identical to the oracle's slot loop
    // — an order-free sum(partScore) differs by ulps run to run, which
    // flips rank ties between equal-score docs. `firstSlot` marks each
    // distinct term's first slot so nMatched is a conditional count (no
    // countDistinct Expand rewrite). The boost multiplies the slot's idf in
    // the oracle's association order ((idf·B)·tfNorm).
    def boostOf(qid: Int, t: String): Double =
      boosts.getOrElse(qid, Map.empty).getOrElse(t, 1.0)
    val q = live.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, slot) =>
        (qid, t, ts.distinct.size, slot, disjunctive(qid), ts.indexOf(t) == slot,
          boostOf(qid, t))
      }
    }.toDF("queryId", "term", "nTerms", "slot", "disj", "firstSlot", "boost")
    // ---- per-query block-range pruning over collected block metadata ----
    // ub = idf · tfNorm(maxTf, minLenByte): the BMW score ceiling, PER-TERM
    // base (query-slot multiplicity and boost are applied per query)
    val blocksAll = ix.postings.filter($"term".isin(liveTerms: _*))
    // one [[MetaStore]] fetch for the whole batch: coverage = union over
    // queries of each query's AND/OR shape
    val metaRaw = MetaStore.fineMeta(ix, blocksAll, liveTerms, dfs,
      live.map { case (qid, ts) =>
        val uniq = ts.distinct
        if (disjunctive(qid)) Seq(uniq) else uniq.map(Seq(_))
      })
    val meta: Map[String, Array[BlockMax.BlockMeta]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) =>
        val idf = idfs(t)
        t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, r._4,
          idf * Bm25.tfNormLossy(r._5.toLong, r._6, ix.lossyCache)))
      }
    // per-query plan: candidate coverage + range-surviving blocks.
    // `wt` = slot multiplicity · boost per unique term — the factor a term's
    // block ceiling is scaled by in the BMW rule (all slots of t together
    // contribute ≤ wt(t) · idf(t) · maxTfNorm)
    final case class QPlan(qid: Int, uniq: Seq[String], wt: Map[String, Double],
                           disj: Boolean, candidates: Array[(Int, Int)],
                           rangeSel: Map[String, Array[Int]], estPostings: Long)
    val plans: Seq[QPlan] = live.flatMap { case (qid, ts) =>
      val uniq = ts.distinct
      val perTerm = uniq.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))
      if (perTerm.exists(_.isEmpty)) None
      else {
        val cand =
          if (disjunctive(qid)) BlockMax.unionCoverage(perTerm)
          else BlockMax.intersectCoverage(perTerm)
        if (cand.isEmpty) None
        else {
          val sel = uniq.map(t => t -> BlockMax.overlapping(meta(t), cand)).toMap
          val est = uniq.iterator
            .map(t => sel(t).iterator.map(i => meta(t)(i).n.toLong).sum).sum
          Some(QPlan(qid, uniq,
            ts.groupBy(identity).map { case (t, xs) =>
              t -> xs.size * boostOf(qid, t) },
            disjunctive(qid), cand, sel, est))
        }
      }
    }
    if (plans.isEmpty) return emptyRows(spark)
    val exPairs = exclusionPairs(ix, plans.map(p => p.qid -> p.candidates), excludes, dfs)

    // ---- shared scoring pipeline (pilot and main decode different keys) ----
    val idfDf = broadcast(idfs.toSeq.toDF("term", "idf"))
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val partScore = ($"idf" * $"boost") *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    // surviving block keys as a broadcast semi-join, not a scalar UDF —
    // stays inside whole-stage codegen and the set is bounded by the batch
    // terms' block counts (already collected driver-side as `metaRaw`)
    def scoreRows(keys: Set[(String, Int)]): DataFrame = {
      val keysDf = broadcast(keys.toSeq.toDF("term", "firstDocId"))
      // norms ride the decode ([[decodedScoreRows]]): no per-doc join.
      // Measured negative result: repartitioning the decoded postings by
      // docId before the fan-out join (to make the aggregate below
      // exchange-free) ran 2x SLOWER on the 2.4M-doc log — it shuffles
      // every decoded posting row with its term string and adds a stage
      // barrier, while the aggregate's own exchange carries post-partial-agg
      // rows keyed by compact ints and the log's fan-out factor is only
      // ~1-2x (few queries share a term). Keep decode→score one fused stage.
      val scored = decodedScoreRows(ix,
          blocksAll.join(keysDf, Seq("term", "firstDocId"), "left_semi"))
        .join(broadcast(q), "term")
        .join(idfDf, "term")
        .withColumn("partScore", partScore)
        .groupBy($"queryId", $"docId", $"nTerms", $"disj")
        .agg(sum(when($"firstSlot", 1).otherwise(0)).as("nMatched"),
          collect_list(struct($"slot", $"partScore")).as("sps"))
        .withColumn("score", graft.functions.functions.slot_sum($"sps"))
        .filter($"disj" || $"nMatched" === $"nTerms")
        .select($"queryId", $"docId".cast("int"), $"score")
      admitted(ix, scored, exPairs, after)
    }
    def keysOf(t: String, idxs: Array[Int]): Iterator[(String, Int)] =
      idxs.iterator.map(i => (t, meta(t)(i).first))

    // ---- batched WAND pilot: one job, per-query θ ----
    val wandPlans = plans.filter(_.estPostings > wandMinPostings)
    val pilotKeys: Set[(String, Int)] = wandPlans.iterator.flatMap { p =>
      val perTermScaled = p.uniq.map { t =>
        val w = p.wt(t)
        meta(t).map(b => if (w == 1.0) b else b.copy(ub = b.ub * w))
      }
      val iv = BlockMax.pilotIntervals(perTermScaled,
        BlockMax.refineByBlocks(perTermScaled, p.candidates),
        targetDocs = math.max(64L * k, 1024L), disjunctive = p.disj)
      p.uniq.iterator.flatMap(t => keysOf(t, BlockMax.overlapping(meta(t), iv)))
    }.toSet
    val thetas: Map[Int, Double] =
      if (pilotKeys.isEmpty) Map.empty
      else topKRows(scoreRows(pilotKeys), k).filter($"rank" === k)
        .select($"queryId", $"score").as[(Int, Double)].collect().toMap

    // ---- final per-query selection: range survivors filtered by θ ----
    val neededKeys: Set[(String, Int)] = plans.iterator.flatMap { p =>
      val th = thetas.getOrElse(p.qid, Double.NegativeInfinity)
      p.uniq.iterator.flatMap { t =>
        val m = meta(t)
        val wtT = p.wt(t)
        keysOf(t,
          if (th == Double.NegativeInfinity) p.rangeSel(t)
          else p.rangeSel(t).filter { i =>
            val b = m(i)
            val others = p.uniq.iterator.filter(_ != t)
              .map(t2 => p.wt(t2) * BlockMax.maxUbIn(meta(t2), b.first, b.last)).sum
            b.ub * wtT + others >= th - 1e-9
          })
      }
    }.toSet
    val rangeKeys = plans.iterator.flatMap(p => p.uniq.iterator.flatMap(t =>
      keysOf(t, p.rangeSel(t)))).toSet
    publishDiag(live.size, liveTerms.size, metaRaw, rangeKeys, neededKeys, pilotKeys,
      wandPlans.size)
    if (neededKeys.isEmpty) return emptyRows(spark)
    topKRows(scoreRows(neededKeys), k)
  }

  private def publishDiag(nQueries: Int, nTerms: Int,
                          metaRaw: Array[(String, Int, Int, Int, Int, Int)],
                          rangeKeys: Set[(String, Int)], neededKeys: Set[(String, Int)],
                          pilotKeys: Set[(String, Int)], wandQueries: Int): Unit = {
    def postingsIn(keys: Set[(String, Int)]): Long =
      metaRaw.iterator.filter(r => keys((r._1, r._2))).map(_._4.toLong).sum
    lastDiag.set(BlockMax.Diag(nQueries, nTerms, metaRaw.length.toLong,
      metaRaw.iterator.map(_._4.toLong).sum, rangeKeys.size.toLong,
      neededKeys.size.toLong, postingsIn(pilotKeys), postingsIn(neededKeys),
      wandQueries))
  }

  /** Batch PHRASE search: every phrase query of a log in ONE Spark job,
    * and the only phrase pipeline ([[search]]'s phrase mode is a one-query
    * call of it).
    *
    * Per query (`query_processing.h` per-slot leapfrog): block coverage is
    * the intersection of its terms' block ranges; only the union of
    * surviving blocks across the batch is position-decoded; a (query, doc)
    * group matches when every distinct term is present and the slot-wise
    * adjusted position lists intersect ([[graft.core.Oracle.phraseMatch]]
    * — repeated terms reuse one list at different shifts). Matched docs
    * score conjunctive BM25 with per-slot idf multiplicity, then a bounded
    * per-query top-k heap.
    *
    * Per-query inputs, keyed by queryId:
    *  - `slops`: > 0 relaxes the check to ordered proximity
    *    ([[graft.core.Oracle.proximityMatch]]);
    *  - `shifts`: explicit per-slot position shifts (analyzed-query gaps,
    *    Lucene match_phrase semantics; exact phrase only, strictly
    *    increasing, one per slot — [[graft.core.Oracle.phraseMatchAt]]);
    *  - `excludes`, `boosts`, `after`: as in [[searchAll]];
    *  - `bloomFactors`: the reference's `bloom_enable_factor`
    *    (`query_processing.h:795-807`; absent = [[BloomNeverUse]]). The J5
    *    bloom semi-join is lossy-positive, so the positional check stays
    *    exact. For a 2-term phrase the probe direction is cost-ruled by
    *    posting-list sizes — `factor*df1 <= df2` probes term1's END filter
    *    for term2, `factor*df2 < df1` probes term2's BEGIN filter for
    *    term1, comparable sizes skip the bloom; k>2 falls back to the
    *    end-filter chain over adjacent pairs (`CheckBloomFallBack`). Bloom
    *    filters encode ADJACENCY, so proximity and gapped-shift queries
    *    never probe. [[QueryLog.run]] leaves the probe off: the batch
    *    path's cost is bounded up front by the block-range intersection.
    * Returns (queryId, rank, docId, score). */
  def searchAllPhrase(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                      slops: Map[Int, Int] = Map.empty,
                      excludes: Map[Int, Seq[String]] = Map.empty,
                      boosts: Map[Int, Map[String, Double]] = Map.empty,
                      shifts: Map[Int, Seq[Int]] = Map.empty,
                      bloomFactors: Map[Int, Int] = Map.empty,
                      after: Map[Int, (Double, Int)] = Map.empty): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    require(slops.valuesIterator.forall(_ >= 0), "slop must be non-negative")
    requirePositive(boosts)
    val byId = queries.toMap
    require(shifts.forall { case (qid, sh) =>
        slops.getOrElse(qid, 0) == 0 && byId.get(qid).exists(_.size == sh.size) &&
          sh.sliding(2).forall { case Seq(a, b) => a < b; case _ => true }
      }, "phraseShifts require an exact phrase and strictly increasing shifts")
    val allTerms = queries.flatMap(_._2).distinct
    if (allTerms.isEmpty || k <= 0) return emptyRows(spark)
    val dfs = termDfs(ix, (allTerms ++ excludes.valuesIterator.flatten).distinct)
    // P2 guard — phrase queries are conjunctive by definition, so a
    // required term that is also excluded is unsatisfiable
    val live = queries.filter { case (qid, ts) =>
      ts.nonEmpty && ts.forall(dfs.contains) &&
        !excludes.getOrElse(qid, Nil).exists(ts.contains)
    }
    if (live.isEmpty) return emptyRows(spark)
    val liveTerms = live.flatMap(_._2).distinct
    // one row per (query, SLOT) with the slot weight idf·boost (see
    // [[searchAll]] for the slot-ordered sum)
    val idfW = live.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, slot) =>
        (qid, t, slot,
          Bm25.idf(ix.nDocs, dfs(t)) * boosts.getOrElse(qid, Map.empty).getOrElse(t, 1.0))
      }
    }.toDF("queryId", "term", "slot", "idf")
    // ---- per-query block-range intersection over collected metadata ----
    val blocksAll = ix.postings.filter($"term".isin(liveTerms: _*))
    val metaRaw = MetaStore.fineMeta(ix, blocksAll, liveTerms, dfs,
      live.map(_._2.distinct.map(Seq(_))))
    val meta = rangesByTerm(metaRaw.map(r => (r._1, r._2, r._3)))
    val cands: Seq[(Int, Array[(Int, Int)])] = live.flatMap { case (qid, ts) =>
      val perTerm = ts.distinct.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))
      if (perTerm.exists(_.isEmpty)) None
      else Some(qid -> BlockMax.intersectCoverage(perTerm))
    }
    val neededKeys: Set[(String, Int)] = cands.iterator.flatMap { case (qid, cand) =>
      byId(qid).distinct.iterator.flatMap { t =>
        val m = meta(t)
        BlockMax.overlapping(m, cand).iterator.map(i => (t, m(i).first))
      }
    }.toSet
    publishDiag(live.size, liveTerms.size, metaRaw, neededKeys, neededKeys, Set.empty, 0)
    if (neededKeys.isEmpty) return emptyRows(spark)
    val exPairs = exclusionPairs(ix, cands, excludes, dfs)
    val keysDf = broadcast(neededKeys.toSeq.toDF("term", "firstDocId"))
    // decode (docIds, tfs, norms, positions) of surviving blocks once for
    // the batch
    val decoded = blocksAll.join(keysDf, Seq("term", "firstDocId"), "left_semi")
      .select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes", "positions")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs, lbs, pos) =>
        val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
        val lb = PostingCodec.decodeLenBytes(n, lbs)
        val ps = PostingCodec.decodePositions(n, pos)
        dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, ps(i), lb(i)) }
      }
      .toDF("term", "docId", "tf", "pos", "lenByte")
    // attach each decoded posting to every live query using that term
    val qTermDf = broadcast(live.flatMap { case (qid, ts) =>
      ts.distinct.map(t => (qid, t))
    }.toDF("queryId", "term"))
    val perQuery = decoded.join(qTermDf, "term")
      .select($"queryId", $"docId", $"term", $"tf", $"pos", $"lenByte")
    // (J5) bloom semi-join: each check is (rowTerm, probe, useEnd) — read
    // rowTerm's filter for this doc and test `probe` against its end
    // (successor) or begin (predecessor) side
    val checks: Map[Int, Seq[(String, String, Boolean)]] = live.flatMap { case (qid, ts) =>
      val factor = bloomFactors.getOrElse(qid, BloomNeverUse)
      val gapped = shifts.get(qid).exists(sh => !sh.indices.forall(i => sh(i) == sh.head + i))
      val cs =
        if (factor == BloomNeverUse || ts.size < 2 || slops.getOrElse(qid, 0) > 0 || gapped)
          Nil
        else if (ts.size == 2) {
          val (a, b) = (ts.head, ts(1))
          if (factor.toLong * dfs(a) <= dfs(b)) Seq((a, b, true))     // end-probe a→b
          else if (factor.toLong * dfs(b) < dfs(a)) Seq((b, a, false)) // begin-probe b←a
          else Nil                                                     // comparable: skip
        } else ts.sliding(2).map(p => (p.head, p(1), true)).toSeq
      if (cs.isEmpty) None else Some(qid -> cs)
    }.toMap
    val candidates = (if (checks.isEmpty) None else ix.bloom) match {
      case None => perQuery
      case Some(bdf) =>
        val bcChecks = spark.sparkContext.broadcast(checks)
        val passing = bdf
          .filter($"term".isin(checks.valuesIterator.flatten.map(_._1).toSeq.distinct: _*))
          .select("term", "docId", "beginBits", "endBits", "k")
          .as[(String, Int, Array[Byte], Array[Byte], Int)]
          .groupByKey(_._2)
          .flatMapGroups { (docId, rows) =>
            val m = rows.map(r => r._1 -> ((r._3, r._4, r._5))).toMap
            bcChecks.value.iterator.collect { case (qid, cs) if cs.forall {
                case (rowTerm, probe, useEnd) =>
                  m.get(rowTerm).exists { case (begin, end, kk) =>
                    new graft.index.Bloom.Filter(if (useEnd) end else begin, kk)
                      .mightContain(probe)
                  }
              } => (qid, docId)
            }
          }.toDF("queryId", "docId").withColumn("bloomOk", lit(true))
        perQuery.join(passing, Seq("queryId", "docId"), "left_outer")
          .filter($"bloomOk".isNotNull || !$"queryId".isin(checks.keys.toSeq: _*))
          .drop("bloomOk")
    }
    // per-slot positional intersection per (query, doc) group
    val bcQ = spark.sparkContext.broadcast(live.map { case (qid, ts) =>
      qid -> ((ts, slops.getOrElse(qid, 0), shifts.get(qid)))
    }.toMap)
    val matched = candidates
      .as[(Int, Int, String, Int, Array[Int], Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, String, Int, Array[Int], Int)]) =>
        val (qid, docId) = key
        val byTerm = rows.toArray.groupBy(_._3)
        val (qts, slop, sh) = bcQ.value(qid)
        val posOk = qts.distinct.forall(byTerm.contains) && {
          val posLists = qts.map(t => byTerm(t).head._5)
          sh match {
            case Some(s) => graft.core.Oracle.phraseMatchAt(posLists, s)
            case None if slop == 0 => graft.core.Oracle.phraseMatch(posLists)
            case None => graft.core.Oracle.proximityMatch(posLists, slop)
          }
        }
        if (posOk) byTerm.valuesIterator.map(_.head).map(r => (qid, docId, r._3, r._4, r._6))
        else Iterator.empty
      }.toDF("queryId", "docId", "term", "tf", "lenByte")
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val partScore = $"idf" *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    val phraseScored = matched
      .join(broadcast(idfW), Seq("queryId", "term"))
      .withColumn("partScore", partScore)
      .groupBy($"queryId", $"docId")
      .agg(collect_list(struct($"slot", $"partScore")).as("sps"))
      .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      .select($"queryId", $"docId".cast("int"), $"score")
    topKRows(admitted(ix, phraseScored, exPairs, after), k)
  }
}
