"""Segment merge: tiered selection policy + Spark merge execution.

Policy thresholds ported from the reference's TieredMergePolicy
(core/index/merge.go:370-377, FindMerges :494-641): sort segments by
size, floor small segments, merge <=10 at a time, don't produce
oversized segments.  The merge *executor* is a stub in the reference
(core/index/writer.go:1420-1431 panics); semantics come from the W6
invariants (termsHashConsumerPerField.go:550-668): merged per-term
df/ttf are sums, docIDs keep their global values (our docBases are
global already, so posting-list merge = ordered concatenation — no
re-sort, no full-list materialization).

Execution shape: segments' doc ranges are disjoint and ordered by
docBase, so the merged posting list of a term is the concatenation of
its per-segment block lists.  We relabel (segment_id, block_id) with a
per-term running offset computed by a window over the term's BLOCK
rows (df/128 rows even for the hottest term — the skew-safe trick:
we never shuffle or collect the postings themselves, only block rows).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .builder import read_manifest, read_table, term_dict_frame

MAX_MERGE_AT_ONCE = 10        # merge.go:370
SEGS_PER_TIER = 10            # merge.go:377
FLOOR_SEGMENT_DOCS = 1024     # analogue of the 2MB floor (merge.go:372)


def select_merges(segments: dict[int, int], max_merged_docs: int = 5_000_000) -> list[list[int]]:
    """TieredMergePolicy-style selection over {segment_id: n_docs}.
    Returns groups of segment ids to merge (smallest-first, <=10 per
    merge, skipping merges that would exceed max_merged_docs)."""
    if len(segments) <= SEGS_PER_TIER:
        return []
    order = sorted(segments, key=lambda s: (max(segments[s], FLOOR_SEGMENT_DOCS), s))
    merges = []
    i = 0
    while len(order) - i > SEGS_PER_TIER:
        group, total = [], 0
        while i < len(order) and len(group) < MAX_MERGE_AT_ONCE:
            s = order[i]
            if total + segments[s] > max_merged_docs and group:
                break
            group.append(s)
            total += segments[s]
            i += 1
        if len(group) >= 2:
            merges.append(group)
        else:
            break
    return merges


# merged-segment ids live above every epoch-derived id (streams at
# 1_000_000 + epoch, updates at 2_000_000 + epoch): max(used)+1 alone
# could equal a FUTURE stream/update epoch's deterministic id — e.g.
# merging stream segments {1_000_000, 1_000_001} would allocate
# 1_000_002, exactly stream epoch 2's id, and the next micro-batch
# would alias the merged segment.  Merge ids are NOT ordinally
# comparable with epoch-derived ids (filter_live's scoped-tombstone
# comparison is ordinal), so tombstones() translates them back through
# the manifest's merged_from_segments via merged_origin_ranges().
MERGE_ID_BASE = 10_000_000



def _strip_chunk(df: DataFrame) -> DataFrame:
    """Drop the materialized ``chunk`` PARTITION column before writing a
    read-back frame into a new chunk directory.  Left in, it lands in
    the data files with whatever type partition inference gave it that
    day (INT for numeric-only chunk sets, STRING once stream/update/
    merge chunks exist) — and two merges performed at different index
    states then produce unmergeable footers (CANNOT_MERGE_SCHEMAS;
    caught by the round-5 lifecycle fuzz, seed 5)."""
    return df.drop("chunk") if "chunk" in df.columns else df


def _merge_children(records: list[dict]) -> dict[int, list[int]]:
    """merge output segment id -> its input segment ids."""
    return {
        int(rec["new_segment_id"]): [int(s) for s in rec.get("merged_from_segments", [])]
        for rec in records
        if rec.get("kind") == "merge" and rec.get("new_segment_id") is not None
    }


def merged_origin_ranges(index_dir: str,
                         records: list[dict] | None = None) -> dict[int, tuple[int, int]]:
    """new_segment_id -> (min, max) over the ORIGINAL (pre-merge)
    segment ids the merged segment transitively contains (``records``:
    the manifest already read, else it is read here).

    Merged ids (MERGE_ID_BASE+) are labels outside the epoch-ordered id
    space, so any ordinal test against an epoch-derived segment id
    (update-tombstone scoping, merge routing) must be made on these
    effective original ids instead."""
    children = _merge_children(read_manifest(index_dir) if records is None else records)

    def expand(s: int, seen: set[int]) -> list[int]:
        if s in children and s not in seen:
            seen.add(s)
            out: list[int] = []
            for c in children[s]:
                out.extend(expand(c, seen))
            return out
        return [s]

    ranges = {}
    for m in children:
        orig = expand(m, set())
        if orig:
            ranges[m] = (min(orig), max(orig))
    return ranges


def _allocate_segment_id(index_dir: str, segment_ids: list[int]) -> int:
    """A segment id not used by ANY segment recorded in the manifest,
    and outside the epoch-derived stream/update id ranges.

    Reusing min(segment_ids) (or any merged-away id) is wrong:
    dead_segments() marks merge INPUT ids dead by id alone, so a merge
    output labeled with an input's id would be killed along with it —
    all its docs vanish.  (dead_segments() deliberately does NOT
    discard new_segment_id from the dead set: listing-order discards
    resurrected nested-merge outputs, the r3 fix.)  Callers passing an
    explicit new_segment_id go through _check_new_segment_id."""
    used = _used_segment_ids(index_dir, segment_ids)
    return max(used) + 1


def _used_segment_ids(index_dir: str, segment_ids: list[int],
                      exact_only: bool = False) -> set[int]:
    """Every segment id recorded anywhere in the manifest (live, dead,
    merged-from, NRT/update flushes), plus the given merge inputs and
    the MERGE_ID_BASE floor.  ``exact_only`` drops the conservative
    allocation-only entries (num_segments, the MERGE_ID_BASE floor) so
    collision CHECKS only reject genuinely recorded ids."""
    used = set() if exact_only else {MERGE_ID_BASE - 1}
    used.update(int(s) for s in segment_ids)
    keys = ("segment_id", "new_segment_id") if exact_only else (
        "segment_id", "new_segment_id", "num_segments")
    for rec in read_manifest(index_dir):
        used.update(int(s) for s in (rec.get("segments") or {}))
        for k in keys:
            if rec.get(k) is not None:
                used.add(int(rec[k]))
        used.update(int(s) for s in rec.get("merged_from_segments", []))
    return used


def _check_new_segment_id(index_dir: str, segment_ids: list[int],
                          new_segment_id: int | None) -> None:
    """Reject a caller-supplied new_segment_id that collides with ANY
    recorded segment id — a merge input (the output would be superseded
    by its own manifest record), a dead merged-away id (rows labeled
    with it are killed), or a LIVE non-input segment (scoped tombstones
    translated through merged_origin_ranges would also kill the
    unrelated segment's rows) — or that sits inside the epoch-derived
    stream/update id ranges a future NRT flush could reuse."""
    if new_segment_id is None:
        return
    from .builder import dead_segments

    nid = int(new_segment_id)
    if nid in {int(s) for s in segment_ids}:
        raise ValueError(
            f"new_segment_id {nid} is one of the merge inputs; the merged "
            "output would be superseded by its own manifest record"
        )
    if nid in dead_segments(index_dir):
        raise ValueError(
            f"new_segment_id {nid} was already merged away; rows labeled "
            "with it are dead and the merge output would vanish"
        )
    if nid in _used_segment_ids(index_dir, [], exact_only=True):
        raise ValueError(
            f"new_segment_id {nid} collides with a live segment; scoped "
            "tombstones translated through the merge lineage would kill "
            "that segment's unrelated rows"
        )
    if 1_000_000 <= nid < MERGE_ID_BASE:
        raise ValueError(
            f"new_segment_id {nid} lies in the reserved epoch-derived "
            "stream/update id ranges [1_000_000, MERGE_ID_BASE); a future "
            "NRT flush could silently duplicate it"
        )


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    segment_ids: list[int],
    new_segment_id: int | None = None,
    out_chunk: str | None = None,
    expunge_deletes: bool = False,
) -> dict:
    """Merge the given segments into one new segment (written as a new
    chunk directory, source rows superseded logically via the manifest).

    Invariants asserted downstream by verify_index: per-(field,term)
    df/ttf of the merged segment equal the sums of the sources; doc ids
    unchanged; block ordering by docBase preserved.

    ``expunge_deletes``: physically drop tombstoned docs (the liveDocs
    application at merge, dwpt.go:313-321): posting blocks are exploded,
    filtered, and re-blocked, and df/ttf recomputed — after which the
    tombstones no longer apply to the merged segment."""
    _check_new_segment_id(index_dir, segment_ids, new_segment_id)
    if expunge_deletes:
        return _merge_expunge(spark, index_dir, segment_ids, new_segment_id, out_chunk)
    # Segment-scoped (updateDocument) tombstones kill rows with
    # segment_id < before_segment.  A plain relabel to a fresh id ABOVE
    # every before_segment would resurrect superseded versions, so when
    # any scoped tombstone can affect these segments we route through
    # the explode path applying ONLY the scoped tombstones — plain
    # (before_segment NULL) deletes stay logical, preserving Lucene's
    # numDocs-vs-maxDoc visibility until a real expunge.
    from .deletes import tombstones

    tomb = tombstones(spark, index_dir)
    # routing must compare EFFECTIVE (pre-merge original) ids: a merged
    # input segment sits at MERGE_ID_BASE+ but may contain versions from
    # original segments below an existing before_segment.
    origin = merged_origin_ranges(index_dir)
    eff_min = min(
        origin.get(int(s), (int(s), int(s)))[0] for s in segment_ids
    )
    if tomb is not None and eff_min < (
        tomb.agg(F.max("before_segment")).collect()[0][0] or -(1 << 62)
    ):
        return _merge_expunge(
            spark, index_dir, segment_ids, new_segment_id, out_chunk,
            scoped_only=True,
        )
    t0 = time.time()
    new_id = new_segment_id if new_segment_id is not None else _allocate_segment_id(index_dir, segment_ids)
    out_chunk = out_chunk or f"merge-{new_id}-{len(segment_ids)}"
    post = read_table(spark, os.path.join(index_dir, "postings")).filter(
        F.col("segment_id").isin(segment_ids)
    )
    has_kind = "kind" in post.columns
    if not has_kind:
        post = post.withColumn("kind", F.lit("post"))
    # per-term running block offset: windows over BLOCK rows only
    w_seq = Window.partitionBy("field", "term").orderBy("segment_id", "block_id")
    w_seg = Window.partitionBy("field", "term", "segment_id").orderBy("block_id")
    wt = Window.partitionBy("field", "term")
    staged = post.withColumn("new_block_id", F.row_number().over(w_seq) - 1).withColumn(
        "rn_seg", F.row_number().over(w_seg)
    )
    merged = (
        staged.withColumn(
            "df_new", F.sum(F.when(F.col("rn_seg") == 1, F.col("df_seg"))).over(wt)
        )
        .withColumn(
            "ttf_new", F.sum(F.when(F.col("rn_seg") == 1, F.col("ttf_seg"))).over(wt)
        )
        .withColumn("n_buckets", F.count("*").over(wt))
        .withColumn("segment_id", F.lit(new_id).cast("int"))
        .withColumn("block_id", F.col("new_block_id").cast("long"))
        .withColumn("df_seg", F.col("df_new"))
        .withColumn("ttf_seg", F.col("ttf_new"))
        .drop("new_block_id", "rn_seg", "df_new", "ttf_new")
    )
    _strip_chunk(merged).write.mode("overwrite").partitionBy("kind").parquet(
        os.path.join(index_dir, "postings", f"chunk={out_chunk}")
    )

    td = read_table(spark, os.path.join(index_dir, "term_dict")).filter(
        F.col("segment_id").isin(segment_ids)
    )
    has_spread = "bmf_min" in td.columns
    spread_aggs = (
        [F.min("bmf_min").alias("bmf_min"), F.max("bmf_max").alias("bmf_max"),
         F.min("bdlq_min").alias("bdlq_min"), F.max("bdlq_max").alias("bdlq_max")]
        if has_spread else []
    )
    td_merged = (
        td.groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"),
             F.min("pulsed_doc").alias("pd"), F.min("pulsed_freq").alias("pf"),
             *spread_aggs)
        .select(
            F.lit(new_id).cast("int").alias("segment_id"),
            "field",
            "term",
            "df",
            "ttf",
            F.when(F.col("df") == 1, F.col("pd")).alias("pulsed_doc"),
            F.when(F.col("df") == 1, F.col("pf")).alias("pulsed_freq"),
            *( ["bmf_min", "bmf_max", "bdlq_min", "bdlq_max"] if has_spread else [] ),
        )
    )
    _strip_chunk(td_merged).write.mode("overwrite").parquet(
        os.path.join(index_dir, "term_dict", f"chunk={out_chunk}")
    )

    ds = read_table(spark, os.path.join(index_dir, "doc_stats")).filter(
        F.col("segment_id").isin(segment_ids)
    ).withColumn("segment_id", F.lit(new_id).cast("int"))
    _strip_chunk(ds).write.mode("overwrite").parquet(
        os.path.join(index_dir, "doc_stats", f"chunk={out_chunk}")
    )

    # supersede source chunks' segment rows: record the merge in the manifest;
    # readers of a merged index use the 'live' chunk set from the manifest.
    rec = {
        "chunk": out_chunk,
        "status": "committed",
        "kind": "merge",
        "merged_from_segments": sorted(int(s) for s in segment_ids),
        "new_segment_id": int(new_id),
        "wall_sec": round(time.time() - t0, 3),
    }
    mdir = os.path.join(index_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{out_chunk}.json"), "w") as f:
        json.dump(rec, f)
    # a merge adds no terms (output terms ⊆ union of input terms):
    # the trigram table only needs its freshness key bumped
    from .trigram import refresh_trigram_index

    refresh_trigram_index(spark, index_dir)
    return rec


def _merge_expunge(spark, index_dir, segment_ids, new_segment_id, out_chunk,
                   scoped_only: bool = False) -> dict:
    """Merge with physical delete application: explode -> anti-join the
    tombstones -> re-block through blocked_postings (one shuffle).

    ``scoped_only``: apply only segment-scoped (updateDocument) tombstones
    — the plain-merge path uses this to drop superseded versions before
    relabeling, while plain deletes remain logical (read-time filtered)."""
    from .builder import TF_SCHEMA, blocked_postings
    from .deletes import tombstones

    t0 = time.time()
    new_id = new_segment_id if new_segment_id is not None else _allocate_segment_id(index_dir, segment_ids)
    out_chunk = out_chunk or (
        f"merge-{new_id}-{len(segment_ids)}" if scoped_only
        else f"expunge-{new_id}-{len(segment_ids)}"
    )
    post = read_table(spark, os.path.join(index_dir, "postings")).filter(
        F.col("segment_id").isin(segment_ids)
    )
    zcols = ["doc_ids", "freqs", "dlqs", "norm_bytes"]
    if "positions" in post.columns:
        zcols.append("positions")
    if "payloads" in post.columns:
        zcols.append("payloads")
    # NOTE: a payloads column is emitted ONLY when the source postings
    # carry one — fabricating a NULL payloads column here would leak a
    # 'payloads' schema into payload-less indexes (and payload scoring
    # would silently default instead of raising).
    flat = post.select(
        "segment_id", "field", "term", F.explode(F.arrays_zip(*zcols)).alias("e")
    ).select(
        "segment_id",
        F.col("e.doc_ids").alias("doc_id"),
        "field",
        "term",
        F.col("e.freqs").alias("freq"),
        (F.col("e.positions") if "positions" in zcols else F.lit(None).cast("binary")).alias("positions"),
        *( [F.col("e.payloads").alias("payloads")] if "payloads" in zcols else [] ),
        F.col("e.dlqs").alias("dlq"),
        F.col("e.norm_bytes").alias("norm_byte"),
    )
    tomb = tombstones(spark, index_dir)
    if tomb is not None and scoped_only:
        tomb = tomb.filter(F.col("before_segment").isNotNull())
    if tomb is not None:
        # liveDocs applied against the ORIGINAL segment ids (update
        # tombstones only kill versions in segments < before_segment)
        from .deletes import filter_live

        flat = filter_live(flat, tomb)
    flat = flat.withColumn("segment_id", F.lit(new_id).cast("int"))
    # preserve the source index's layout: WAND-v2 metadata is rebuilt
    # iff the source postings carried it
    merged = blocked_postings(
        flat, include_sentinels=True,
        wand_metadata="block_max_dlq" in post.columns,
    )
    _strip_chunk(merged).write.mode("overwrite").partitionBy("kind").parquet(
        os.path.join(index_dir, "postings", f"chunk={out_chunk}")
    )
    # every doc of the merged segments may be tombstoned (Lucene drops
    # such segments at forceMergeDeletes): the write then produces no
    # parquet files and a read-back cannot infer a schema — fall back
    # to the (empty) merged frame itself
    import glob as _glob

    _files = _glob.glob(
        os.path.join(index_dir, "postings", f"chunk={out_chunk}", "**", "*.parquet"),
        recursive=True,
    )
    written = (
        read_table(spark, os.path.join(index_dir, "postings", f"chunk={out_chunk}"))
        if _files else merged
    )
    td = term_dict_frame(written)
    _strip_chunk(td).write.mode("overwrite").parquet(os.path.join(index_dir, "term_dict", f"chunk={out_chunk}"))
    ds = read_table(spark, os.path.join(index_dir, "doc_stats")).filter(
        F.col("segment_id").isin(segment_ids)
    )
    if tomb is not None:
        from .deletes import filter_live

        ds = filter_live(ds, tomb)
    ds = ds.withColumn("segment_id", F.lit(new_id).cast("int"))
    _strip_chunk(ds).write.mode("overwrite").parquet(os.path.join(index_dir, "doc_stats", f"chunk={out_chunk}"))
    rec = {
        "chunk": out_chunk,
        "status": "committed",
        "kind": "merge",
        "expunged_deletes": not scoped_only,
        "merged_from_segments": sorted(int(s) for s in segment_ids),
        "new_segment_id": int(new_id),
        "wall_sec": round(time.time() - t0, 3),
    }
    mdir = os.path.join(index_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{out_chunk}.json"), "w") as f:
        json.dump(rec, f)
    refresh_field_stats(spark, index_dir)
    # expunge can only REMOVE terms — leftover trigram rows stay a
    # correct superset (candidates are still rlike- and postings-
    # filtered), so a freshness bump suffices here too
    from .trigram import refresh_trigram_index

    refresh_trigram_index(spark, index_dir)
    return rec


def refresh_field_stats(spark: SparkSession, index_dir: str) -> None:
    """Recompute the collection-statistics table from the LIVE segment
    set (post-merge/expunge), with the manifest's omitNorms fields."""
    from .builder import dead_segments, field_stats_rows, omit_norms_fields, write_field_stats

    ds = read_table(spark, os.path.join(index_dir, "doc_stats"))
    td = read_table(spark, os.path.join(index_dir, "term_dict"))
    dead = dead_segments(index_dir)
    if dead:
        alive = lambda df: df.filter(~F.col("segment_id").isin([int(x) for x in dead]))
        ds, td = alive(ds), alive(td)
    # maxDoc counts every stored version: an updated doc's superseded
    # copy stays in its segment (and in maxDoc) until an expunge drops
    # it, as the NRT fold counts it
    max_doc = int(ds.select(F.countDistinct("segment_id", "doc_id")).collect()[0][0])
    write_field_stats(index_dir, field_stats_rows(ds, td, max_doc), omit_norms_fields(index_dir))


def verify_index(spark: SparkSession, index_dir: str, source_df: DataFrame | None = None,
                 text_col: str = "content", id_col: str | None = None) -> dict:
    """CheckIndex (core/index/checkIndex.go:147-505) re-expressed:
    cross-table invariants as Spark assertions.  Returns a report dict;
    raises AssertionError on violation."""
    from .builder import dead_segments

    post = spark.read.parquet(os.path.join(index_dir, "postings"))
    if "kind" in post.columns:
        post = post.filter(F.col("kind") == "post")
    td = spark.read.parquet(os.path.join(index_dir, "term_dict"))
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    dm = spark.read.parquet(os.path.join(index_dir, "doc_meta"))
    dead = dead_segments(index_dir)
    dm_raw = dm
    if dead:
        alive = lambda df: df.filter(~F.col("segment_id").isin([int(x) for x in dead]))
        post, td, ds = alive(post), alive(td), alive(ds)
        if "segment_id" in dm.columns:
            dm = alive(dm)

    report = {}

    # 1. per-(segment,field,term): sum of block lengths == df recorded in
    #    both postings metadata and term_dict; sum freqs == ttf
    p_agg = post.groupBy("segment_id", "field", "term").agg(
        F.sum("block_len").alias("n_postings"),
        F.first("df_seg").alias("df_meta"),
        F.sum(F.aggregate("freqs", F.lit(0).cast("long"), lambda a, x: a + x)).alias("ttf_blocks"),
    )
    j = p_agg.join(td, ["segment_id", "field", "term"], "full")
    bad = j.filter(
        (F.col("n_postings") != F.col("df"))
        | (F.col("df_meta") != F.col("df"))
        | (F.col("ttf_blocks") != F.col("ttf"))
    ).count()
    report["postings_vs_term_dict_mismatches"] = bad
    assert bad == 0, f"{bad} (segment,term) rows violate df/ttf invariants"

    # 2. per-doc length == sum of its freqs across terms (per field)
    from .builder import DOC_SENTINEL_FIELD  # noqa

    # SEGMENT-scoped, like the reference CheckIndex: an updated doc has
    # one on-disk version per segment (old ones superseded logically),
    # so cross-segment aggregation would double-count its freqs
    dl_from_post = (
        post.select("segment_id", "field",
                    F.explode(F.arrays_zip("doc_ids", "freqs")).alias("e"))
        .select("segment_id", "field", F.col("e.doc_ids").alias("doc_id"),
                F.col("e.freqs").alias("freq"))
        .groupBy("segment_id", "field", "doc_id")
        .agg(F.sum("freq").alias("dl_sum"))
    )
    ds_text = ds.join(dl_from_post, ["segment_id", "field", "doc_id"], "left")
    bad2 = ds_text.filter(
        F.coalesce(F.col("dl_sum"), F.lit(0)) != F.col("length")
    ).count()
    report["doc_length_mismatches"] = bad2
    assert bad2 == 0, f"{bad2} docs violate length == sum(freq)"

    # 3. singleton pulsing consistency
    bad3 = td.filter(
        ((F.col("df") == 1) & F.col("pulsed_doc").isNull())
        | ((F.col("df") > 1) & F.col("pulsed_doc").isNotNull())
    ).count()
    report["pulsing_violations"] = bad3
    assert bad3 == 0

    # 4. sha256 parity: python-side hash (doc_stats) == JVM sha2
    #    (doc_meta).  doc_meta is never rewritten by merges, so its rows
    #    keep ORIGINAL segment ids while merge relabels doc_stats to the
    #    output id; translate each doc_meta segment through the manifest
    #    merge chain to the live segment that now holds the doc (ADVICE
    #    r5: the dead-filtered (segment, doc) join matched zero rows for
    #    every merged doc — bad4 == 0 vacuously).  Segment-scoping stays:
    #    an updated doc's old ds row must pair with the OLD version's
    #    meta row, so the sha-equality test runs per (segment, doc) and a
    #    separate coverage assert guarantees the join cannot go vacuous.
    records = read_manifest(index_dir)
    children4 = _merge_children(records)
    final4: dict[int, int] = {}
    for out4, ins4 in children4.items():
        for s4 in ins4:
            final4[s4] = out4

    def _resolve4(s: int) -> int:
        seen4: set[int] = set()
        while s in final4 and s not in seen4:
            seen4.add(s)
            s = final4[s]
        return s

    trans4 = {s: _resolve4(s) for s in final4}
    dmt = dm_raw
    if "segment_id" in dmt.columns:
        if trans4:
            tmap = F.create_map(*[
                F.lit(x) for s, t in trans4.items() for x in (s, t)
            ])
            dmt = dmt.withColumn(
                "segment_id",
                F.coalesce(F.element_at(tmap, F.col("segment_id").cast("int")),
                           F.col("segment_id")).cast(dict(dmt.dtypes)["segment_id"]),
            )
        if dead:
            dmt = dmt.filter(~F.col("segment_id").isin([int(x) for x in dead]))
    # doc_meta hashes one text field (the spec's first; build and NRT
    # records name it), doc_stats holds one row per text field: only
    # the hashed field's rows pair with it
    sha_field = next((r["sha_field"] for r in records if "sha_field" in r), None)
    ds_all = ds
    if sha_field is not None:
        ds = ds.filter(F.col("field") == sha_field)
    ds_k = ds.select("segment_id", "doc_id", "content_sha256")
    dm_k = dmt.select("segment_id", "doc_id",
                      F.col("content_sha256").alias("jvm_sha"))
    uncovered = ds_k.join(dm_k, ["segment_id", "doc_id"], "left_anti").count()
    report["sha256_parity_uncovered"] = uncovered
    assert uncovered == 0, (
        f"{uncovered} doc_stats rows have no doc_meta partner (parity "
        "check would be vacuous)"
    )
    matched = (
        ds_k.alias("a")
        .join(
            dm_k.alias("b"),
            (F.col("a.segment_id") == F.col("b.segment_id"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.content_sha256") == F.col("b.jvm_sha")),
            "left_semi",
        )
        .count()
    )
    checked = ds_k.count()
    report["sha256_rows_checked"] = checked
    assert checked or not ds_all.limit(1).count(), (
        f"no doc_stats rows of field {sha_field!r} (parity check would be vacuous)"
    )
    bad4 = checked - matched
    report["sha256_mismatches"] = bad4
    assert bad4 == 0

    # 5. optional: parity against the live source table (north rule's
    #    per-row sha256(content) equality vs the source)
    if source_df is not None:
        src = source_df.select(
            F.sha2(F.col(text_col), 256).alias("src_sha"),
            *( [F.col(id_col).cast("long").alias("doc_id")] if id_col else [] ),
        )
        if id_col:
            bad5 = (
                ds.select("doc_id", "content_sha256")
                .join(src, "doc_id", "full")
                .filter(
                    F.col("content_sha256").isNull()
                    | F.col("src_sha").isNull()
                    | (F.col("content_sha256") != F.col("src_sha"))
                )
                .count()
            )
        else:
            bad5 = (
                ds.groupBy("content_sha256").count().withColumnRenamed("count", "n_ix")
                .join(src.groupBy("src_sha").count().withColumnRenamed("count", "n_src"),
                      F.col("content_sha256") == F.col("src_sha"), "full")
                .filter(F.col("n_ix").isNull() | F.col("n_src").isNull()
                        | (F.col("n_ix") != F.col("n_src")))
                .count()
            )
        report["source_sha256_mismatches"] = bad5
        assert bad5 == 0
    return report
