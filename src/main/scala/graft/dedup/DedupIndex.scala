package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.VersionedTable

/** Persisted near-dup indexes — the [[graft.sim.AnnIndex]] treatment for the
  * two text-dedup index families, closing the last dedup path that re-derived
  * its corpus index per batch:
  *
  *  - MinHash BAND index ([[Dedup.bandIndex]] rows): one row per
  *    (exact-dup representative, band) — what [[Dedup.dedupAgainstIndex]]
  *    equi-joins a daily batch against.
  *  - PPJoin PREFIX index ([[Dedup.PrefixIndex]]: gram document frequencies,
  *    per-doc prefix rows, gram sets) — what [[Dedup.ppjoinAgainst]] joins
  *    against for EXACT (zero-false-negative) incremental dedup.
  *
  * Both are [[VersionedTable]]-backed: the build is an atomic `create` (a
  * crashed build is invisible — no manifest, no table), appends are
  * exactly-once under an idempotence tag ([[VersionedTable.appendBatch]]
  * refuses a replayed tag atomically under the manifest CAS), and readers
  * always see a complete committed snapshot of EACH table even while an
  * append publishes (the manifest pins the file list — the reader/appender
  * overlap AnnIndex's directory appends explicitly exclude). Atomicity is
  * per table, not across the prefix index's three tables — cross-table
  * consistency for concurrent readers comes from [[appendPrefix]]'s
  * support-first commit order instead (see its scaladoc).
  *
  * Why this matters at 100 TB: the reference's whole operating mode is
  * incremental daily import (`/root/reference/code/manager.py:363-407` keeps
  * re-importing deltas into the live table); re-shingling + re-signing an
  * unchanged 100 TB corpus per daily batch is impossible. With the index
  * persisted, per-batch cost is (batch-sized shingle/signature build) +
  * equi-joins against the index — independent of corpus size except through
  * the join's pruned index-side scan.
  *
  * Append semantics:
  *  - Band: appended docs are collapsed/banded WITHIN the batch only. A new
  *    doc exactly duplicating an existing corpus doc yields a second
  *    representative with identical grams — harmless: both match the same
  *    future batches and `min(old_id)` elects the same survivor as a global
  *    rebuild (spec-asserted append ≡ rebuild).
  *  - Prefix: appended docs rank their grams by the ORIGINAL index's
  *    (df, gram) order with unseen grams at df 0 ([[Dedup.ppjoinBatchSide]])
  *    — the frequency table is never updated, so every doc ever indexed
  *    shares one global total order and the prefix/positional-filter
  *    exactness lemmas keep holding as the index grows. Pair sets are
  *    identical to a full rebuild — both are exact algorithms — though the
  *    candidate sets differ (rebuild re-ranks by updated df).
  *
  * Geometry is part of the artifact: `_meta.json` (AnnIndex pattern) pins
  * (bands, rowsPerBand) / threshold at build time and query/append paths
  * read it back — a geometry mismatch between builder and consumer is
  * impossible by construction.
  */
object DedupIndex {

  private def bandRoot(dir: String) = s"$dir/bands"
  private def freqRoot(dir: String) = s"$dir/freq"
  private def prefixRoot(dir: String) = s"$dir/prefix"
  private def gramsRoot(dir: String) = s"$dir/grams"
  private def membersRoot(dir: String) = s"$dir/members"
  private def metaFile(dir: String) = new java.io.File(dir, "_meta.json")

  private def writeMeta(dir: String, json: String): Unit = {
    val f = metaFile(dir)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, json)
    ()
  }

  private def readMeta(dir: String, kind: String): String = {
    val f = metaFile(dir)
    require(f.isFile, s"no dedup index published at $dir")
    val txt = java.nio.file.Files.readString(f.toPath)
    require(txt.contains(s""""kind":"$kind""""),
      s"index at $dir is not a $kind index: $txt")
    txt
  }

  private def intField(txt: String, k: String): Int =
    s""""$k":(\\d+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"missing $k in index meta: $txt")).group(1).toInt

  /** Like [[intField]] but absent-tolerant — v1 artifacts predate the "v"
    * meta field entirely, so version parsing must default (to 1) rather
    * than throw, or the curated "rebuild it" migration error below could
    * never fire for exactly the artifacts it was written for.
    */
  private def intFieldOr(txt: String, k: String, default: Int): Int =
    s""""$k":(\\d+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(default)

  private def doubleField(txt: String, k: String): Double =
    s""""$k":([0-9.]+)""".r.findFirstMatchIn(txt)
      .getOrElse(sys.error(s"missing $k in index meta: $txt")).group(1).toDouble

  // ---------------------------------------------------------------- band

  /** Build and publish the MinHash band index over `corpus`. The table
    * commit is the publish point; `_meta.json` lands first so a table
    * without meta is impossible (meta without table reads as "no index" —
    * [[loadBand]] requires both).
    */
  def buildBand(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, bands: Int = 6, rowsPerBand: Int = 2): Unit = {
    writeMeta(dir,
      s"""{"kind":"band","bands":$bands,"rowsPerBand":$rowsPerBand}""")
    VersionedTable.create(corpus.sparkSession, bandRoot(dir),
      Dedup.bandIndex(corpus, idCol, textCol, bands, rowsPerBand))
    ()
  }

  /** Exactly-once append of `newDocs`' band rows under `tag` — the daily
    * post-dedup step that folds the day's docs into tomorrow's index.
    * Returns false when `tag` was already applied (a replayed drop is a
    * no-op).
    */
  def appendBand(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String, textCol: String, tag: String): Boolean = {
    val meta = readMeta(dir, "band")
    VersionedTable.appendBatch(spark, bandRoot(dir),
      Dedup.bandIndex(newDocs, idCol, textCol,
        intField(meta, "bands"), intField(meta, "rowsPerBand")), tag)
  }

  /** The persisted band rows plus their build geometry. */
  def loadBand(spark: SparkSession, dir: String): (DataFrame, Int, Int) = {
    val meta = readMeta(dir, "band")
    (VersionedTable.read(spark, bandRoot(dir)),
      intField(meta, "bands"), intField(meta, "rowsPerBand"))
  }

  /** Incremental LSH dedup of `batch` against the persisted index — the
    * production daily-import query: batch-sized signature build + band
    * equi-join; the corpus is touched only through the index scan.
    */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val (index, bands, rowsPerBand) = loadBand(spark, dir)
    Dedup.dedupAgainstIndex(index, batch, idCol, textCol, threshold,
      bands, rowsPerBand)
  }

  // -------------------------------------------------------------- prefix

  /** Build and publish the PPJoin prefix index over `corpus` at `threshold`
    * (the build threshold is the index's contract — queries must use the
    * same τ, which [[ppjoinBatch]] reads back from the meta).
    */
  def buildPrefix(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, threshold: Double): Unit = {
    val spark = corpus.sparkSession
    val ix = Dedup.prefixIndex(corpus, idCol, textCol, threshold)
    // "v":2 — the collapsed format: prefix/gram rows per exact-dup FAMILY
    // representative plus the member map (loadPrefix refuses v1 artifacts,
    // which stored per-doc rows and no members table)
    writeMeta(dir, s"""{"kind":"prefix","v":2,"threshold":$threshold}""")
    // support-first order (freq, members, grams before prefix) — same
    // rationale as [[appendPrefix]]: a reader that can see a prefix row
    // must be able to see everything that row's candidates need
    VersionedTable.create(spark, freqRoot(dir), ix.freq)
    VersionedTable.create(spark, membersRoot(dir), ix.members)
    VersionedTable.create(spark, gramsRoot(dir), ix.grams)
    VersionedTable.create(spark, prefixRoot(dir), ix.prefix)
    ()
  }

  /** Exactly-once append of `newDocs`' family rows under `tag` — the batch
    * is collapsed to exact-dup representatives whose prefixes rank by the
    * ORIGINAL frequency table (never updated — the shared total order the
    * exactness proof needs), plus its member rows. Three tables commit
    * under the same tag, SUPPORT FIRST: `members`, then `grams`, then
    * `prefix` LAST. Candidates originate exclusively from prefix rows
    * ([[Dedup.ppjoinAgainst]]'s cross join), so a concurrent
    * [[ppjoinBatch]] reader — the daily-ingest pattern this index exists
    * for — either cannot see the batch's families at all (prefix not yet
    * committed: the append is invisible, as if it ran later) or sees
    * prefix rows whose gram sets and member rows are already committed
    * (every candidate it generates is fully supported through verify and
    * expansion). The reverse order would let a reader generate candidates
    * whose verify support is missing — the inner joins in `ppjoinAgainst`
    * would silently DROP them: false negatives in an operator whose
    * contract is zero false negatives (mid-append reader spec-asserted in
    * DedupIndexSpec). A crash between commits is safe for the same
    * reason plus determinism: the recomputation is deterministic (frozen
    * freq, same batch), each table's replay is refused independently, and
    * the replay completes the partially-committed batch.
    * A batch doc exactly duplicating an already-indexed text yields a
    * second representative with an identical gram set — harmless, as in
    * [[appendBand]]: both families match the same future batches and
    * expansion unions their (disjoint) member lists.
    */
  def appendPrefix(spark: SparkSession, dir: String, newDocs: DataFrame,
      idCol: String, textCol: String, tag: String): Boolean = {
    val meta = readMeta(dir, "prefix")
    val ix = loadPrefix(spark, dir)
    val (bg, bprefix, bmembers) = Dedup.ppjoinBatchSide(ix, newDocs, idCol,
      textCol, doubleField(meta, "threshold"))
    val a = VersionedTable.appendBatch(spark, membersRoot(dir), bmembers, tag)
    val b = VersionedTable.appendBatch(spark, gramsRoot(dir), bg, tag)
    val c = VersionedTable.appendBatch(spark, prefixRoot(dir), bprefix, tag)
    a || b || c
  }

  def loadPrefix(spark: SparkSession, dir: String): Dedup.PrefixIndex = {
    val meta = readMeta(dir, "prefix")
    require(intFieldOr(meta, "v", 1) == 2,
      s"prefix index at $dir predates the collapsed v2 format — rebuild it")
    Dedup.PrefixIndex(
      VersionedTable.read(spark, freqRoot(dir)),
      VersionedTable.read(spark, prefixRoot(dir)),
      VersionedTable.read(spark, gramsRoot(dir)),
      VersionedTable.read(spark, membersRoot(dir)))
  }

  /** The persisted index's build threshold. */
  def prefixThreshold(dir: String): Double =
    doubleField(readMeta(dir, "prefix"), "threshold")

  /** EXACT incremental dedup of `batch` against the persisted prefix index
    * at the index's build threshold — batch×corpus and batch×batch pairs,
    * zero false negatives, corpus never self-paired.
    */
  def ppjoinBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    Dedup.ppjoinAgainst(loadPrefix(spark, dir), batch, idCol, textCol,
      prefixThreshold(dir))

  // ------------------------------------------------------------- compact

  /** Families (reps) before/after an index [[compact]]. */
  final case class CompactStats(kind: String, repsBefore: Long,
      repsAfter: Long)

  /** Offline maintenance pass over a persisted index — the counterpart of
    * the queue-compact verb, fixing the two forms of append drift the
    * append paths deliberately tolerate:
    *
    *  - BOTH kinds: duplicate representatives. Appends collapse exact-dup
    *    families within their own batch only, so a batch doc duplicating
    *    an already-indexed text becomes a second representative with an
    *    identical gram set (documented-harmless for correctness — both
    *    match the same future batches) — but index size then grows with
    *    the DUPLICATE rate, not the corpus's distinct-text count. Compact
    *    folds identical-gram-set families onto the min-id representative
    *    (band: drop the loser's band rows — min-over-matches is unchanged
    *    because identical gram sets always co-match; prefix: union the
    *    member lists under the surviving rep — expansion emits the same
    *    per-doc pairs because equal gram sets give equal jaccard against
    *    every batch doc, and corpus families are never paired with each
    *    other).
    *  - PREFIX kind: stale prefix ranking. Appends never update the
    *    frequency table (correct — one frozen global order is what the
    *    exactness lemmas need), so after many appends prefixes are chosen
    *    by stale df and candidate fan-out drifts up: a gram unseen at
    *    build ranks at df 0 — "rarest" — in every appended doc's prefix
    *    and in every future batch's, even once appends have made it
    *    boilerplate. Compact recomputes df over the surviving reps and
    *    re-ranks every prefix under the fresh (df, gram) order — a NEW
    *    frozen global order, equally exact (any consistent total order
    *    satisfies the prefix/positional lemmas; batches rank against the
    *    rewritten freq table, so index and batch stay in ONE order).
    *
    * Publication rides the tables' own commit protocol — every rewritten
    * table is a [[VersionedTable.overwrite]] commit (atomic under the
    * manifest CAS, old versions stay time-travelable until vacuum; a
    * directory swap would instead silently violate the snapshot cache's
    * manifest-immutability contract). The BAND kind is one table = one
    * atomic commit; readers see the old or new index, both correct. The
    * PREFIX kind rewrites four tables that must change TOGETHER — a
    * fresh-freq/stale-prefix mix puts batch and index prefixes in two
    * different total orders and breaks the zero-false-negative lemma — so
    * `_meta.json` is retired first (readers fail LOUDLY, "no dedup index
    * published", for the whole window) and restored after the last
    * commit. All four results are materialized BEFORE the first commit
    * (no staged plan ever reads a half-rewritten table), and commits run
    * members → grams → freq → prefix so a crashed run is RE-RUNNABLE
    * from any intermediate state: compact derives everything from
    * (members, grams) alone, and that pair is consistent-or-rederivable
    * at every crash point (new members' reps are survivors, which old
    * grams still contain). A crash leaves `_meta.json.compacting-*` in
    * place of the meta — the index stays offline-loud until compact is
    * re-run, which adopts the retired meta and finishes the job.
    * Requires exclusive WRITE access (the maintenance window between
    * daily appends).
    */
  def compact(spark: SparkSession, dir: String): CompactStats = {
    val metaF = metaFile(dir)
    val retired = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("_meta.json.compacting-"))
      .sortBy(_.getName)
    require(metaF.isFile || retired.nonEmpty,
      s"no dedup index published at $dir")
    // a crashed compact left the meta retired: adopt it and finish.
    // More than one park can survive (crash → re-run → second crash);
    // compact never changes the meta content, so every park written by
    // this protocol is byte-identical — adoption is well-defined only
    // because of that invariant, so VERIFY it instead of adopting an
    // arbitrary file and deleting the rest (ADVICE r14): disagreeing
    // parks mean a foreign or corrupted meta landed in the dir, and
    // picking one silently would bake the wrong geometry into the index.
    val meta =
      if (metaF.isFile) java.nio.file.Files.readString(metaF.toPath)
      else {
        val contents = retired
          .map(f => java.nio.file.Files.readString(f.toPath)).distinct
        require(contents.length == 1,
          s"${retired.length} parked metas at $dir disagree — refusing to " +
            "adopt one arbitrarily; remove the stale _meta.json.compacting-* " +
            s"files by hand (found: ${retired.map(_.getName).mkString(", ")})")
        contents.head
      }
    val kind = if (meta.contains(""""kind":"band"""")) "band" else "prefix"
    def gramKey(g: org.apache.spark.sql.Column) =
      md5(to_json(sort_array(g)))
    def cut(df: DataFrame) = graft.plans.Lineage.cut(df)

    val stats = kind match {
      case "band" =>
        val index = VersionedTable.read(spark, bandRoot(dir))
        val reps = index
          .select(col("old_id"), gramKey(col("old_grams")).as("gk"))
          .distinct()
        val keep = reps.groupBy("gk").agg(min("old_id").as("old_id"))
          .select("old_id")
        val vacuumed = cut(index.join(keep, Seq("old_id"))
          .select("old_id", "old_grams", "j", "bkey"))
        val (before, after) = (reps.count(), keep.count())
        VersionedTable.overwrite(spark, bandRoot(dir), vacuumed)
        CompactStats(kind, before, after)
      case _ =>
        val grams0 = VersionedTable.read(spark, gramsRoot(dir))
        val members0 = VersionedTable.read(spark, membersRoot(dir))
        val threshold = doubleField(meta, "threshold")
        val keyed = cut(grams0
          .select(col("id"), col("grams"), gramKey(col("grams")).as("gk")))
        val fam = keyed.select(col("gk"), col("id"))
          .groupBy("gk").agg(min("id").as("nrep"))
        val repMap = keyed.select(col("id").as("rep"), col("gk"))
          .join(fam, Seq("gk")).select(col("rep"), col("nrep"))
        val members2 = cut(members0.join(repMap, Seq("rep"))
          .select(col("nrep").as("rep"), col("id")))
        val grams2 = cut(keyed
          .join(fam.select(col("nrep").as("id")), Seq("id"))
          .select(col("id"), col("grams")))
        val toks = grams2.select(col("id"), size(col("grams")).as("sz"),
          explode(col("grams")).as("gram"))
        val freq2 = cut(toks.groupBy("gram").agg(count(lit(1)).as("df")))
        // same conservative prefix predicate as Dedup.prefixIndex, under
        // the FRESH (df, gram) total order
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("df"), col("gram"))
        val prefix2 = cut(toks.join(freq2, Seq("gram"))
          .withColumn("rn", row_number().over(w))
          .filter((col("sz") - col("rn") + 1) / col("sz") >= threshold)
          .select("id", "sz", "rn", "gram"))
        val (before, after) = (keyed.count(), fam.count())
        // fence readers for the multi-table window, then commit in the
        // re-runnable order (see scaladoc)
        if (metaF.isFile) {
          // monotonic park names (timestamp first) so a human inspecting a
          // twice-crashed dir sees the retirement order at a glance; the
          // adopt path above never relies on it (content equality does)
          val park = new java.io.File(dir,
            f"_meta.json.compacting-${System.currentTimeMillis()}%020d-${java.util.UUID.randomUUID()}")
          require(metaF.renameTo(park),
            s"cannot retire $dir/_meta.json — compact aborted before any commit")
        }
        VersionedTable.overwrite(spark, membersRoot(dir), members2)
        VersionedTable.overwrite(spark, gramsRoot(dir), grams2)
        VersionedTable.overwrite(spark, freqRoot(dir), freq2)
        VersionedTable.overwrite(spark, prefixRoot(dir), prefix2)
        writeMeta(dir, meta)
        CompactStats(kind, before, after)
    }
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_meta.json.compacting-"))
      .foreach(_.delete())
    stats
  }
}
