"""Character-trigram index over the term dictionary — the sublinear
seek for PREFIX-LESS multiterm patterns (``*bar*``, ``.*foo.*``).

The reference carries a full automaton library
(core/util/automaton/regexp.go, run.go, ~3k LoC) whose term-dictionary
intersection role its live queries never reach (queryParser.go:178-190
panics).  Spark-native equivalent: literal-prefix patterns already seek
via pushed StartsWith range predicates (search/multiterm.py); patterns
with NO literal prefix used to rlike-scan the whole dictionary.  This
optional side table inverts the dictionary by character trigram so any
pattern containing a literal run pre-prunes its rlike: runs of >= 3
chars to the terms containing ALL the run's trigrams, runs of 1-2
chars via a gram-dictionary probe (terms shorter than 3 chars carry
their whole text as their single gram, so gram-contains is exact
containment evidence for every term):

    trigram/   (field string, gram string, term string)

sorted by (field, gram) at write time, so a gram IN-list pushes into
parquet row-group min/max stats — the candidate fetch reads only the
grams' slices, never the whole dictionary.

Staleness: the manifest record carries the number of data chunks the
table was built over; MaterializedIndex ignores the table when the
committed chunk count has moved on (a rebuild is one call of
build_trigram_index).
"""

from __future__ import annotations

import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .builder import (MaterializedIndex, _arrow_dataset, _list_data_files, commit_record,
                      data_records, read_manifest, read_table)

TRIGRAM_CHUNK = "trigram"


def _data_chunk_count(index_dir: str, records: list[dict] | None = None) -> int:
    """Number of committed segment-data manifest records (build chunks,
    stream/update flushes, merges) — the trigram table's freshness key
    (``records``: the manifest already read, else it is read here)."""
    return len(data_records(read_manifest(index_dir) if records is None else records))


def trigram_files(index_dir: str, records: list[dict]) -> list[str]:
    """The trigram table's data files when the manifest ``records`` hold
    a trigram record built over their current data-chunk count, else
    [] (absent or stale: callers fall back to the full dictionary
    scan, which is always correct)."""
    rec = next((r for r in records if r.get("kind") == "trigram"), None)
    if rec is None or rec.get("built_over_chunks") != _data_chunk_count(index_dir, records):
        return []
    return _list_data_files([os.path.join(index_dir, TRIGRAM_CHUNK)])


def trigrams_col(term_col="term"):
    """array<string> of the term's character trigrams, JVM-side."""
    return F.expr(
        f"transform(sequence(1, greatest(length({term_col}) - 2, 0)), "
        f"i -> substring({term_col}, i, 3))"
    )


def build_trigram_index(spark: SparkSession, index_dir: str) -> dict:
    """(Re)build the trigram side table from the live term dictionary.
    One scan of term_dict + one range shuffle; output sorted by
    (field, gram) for row-group pruning on gram IN-lists."""
    t0 = time.time()
    td = MaterializedIndex(spark, index_dir).term_dict
    terms = td.select("field", "term").distinct()
    tri = (
        terms.select("field", "term", F.explode(trigrams_col()).alias("gram"))
        .distinct()
        .repartitionByRange(8, "field", "gram")
        .sortWithinPartitions("field", "gram", "term")
    )
    out = os.path.join(index_dir, TRIGRAM_CHUNK)
    tri.write.mode("overwrite").parquet(out)
    return commit_record(index_dir, TRIGRAM_CHUNK, {
        "chunk": TRIGRAM_CHUNK,
        "status": "committed",
        "kind": "trigram",
        "built_over_chunks": _data_chunk_count(index_dir),
        "wall_sec": round(time.time() - t0, 3),
    })


def refresh_trigram_index(spark: SparkSession, index_dir: str,
                          new_terms: "pa.Table | None" = None) -> dict | None:
    """Keep an EXISTING trigram table fresh across commit paths (NRT /
    update flushes, merges) so infix seeks survive a living index
    without a manual rebuild.  No-op when the index never built one.

    ``new_terms``: the just-committed chunk's (field, term) rows, an
    Arrow table read on the driver — their trigrams are APPENDED as a
    delta file written with pyarrow (duplicates are harmless:
    trigram_candidates counts DISTINCT grams per term).  None = the
    commit introduced no new terms (a merge: its output terms are a
    subset of the union of its inputs'), so only the freshness key
    moves.  Scale note: the delta append touches only the new chunk's
    terms — never a full term_dict rescan per commit; the full rebuild
    below only fires when commits happened while refresh was disabled
    (freshness key more than one behind)."""
    mpath = os.path.join(index_dir, "manifest", f"{TRIGRAM_CHUNK}.json")
    ddir = os.path.join(index_dir, TRIGRAM_CHUNK)
    if not (os.path.exists(mpath) and os.path.isdir(ddir)):
        return None
    with open(mpath) as f:
        rec = json.load(f)
    cur = _data_chunk_count(index_dir)
    built_over = rec.get("built_over_chunks")
    if built_over == cur:
        return rec
    if built_over != cur - 1:
        # table was already stale before this commit (refresh skipped
        # for some earlier chunk) — a delta can't recover; full rebuild
        return build_trigram_index(spark, index_dir)
    t0 = time.time()
    if new_terms is not None:
        _append_trigrams(ddir, new_terms)
    rec["built_over_chunks"] = cur
    rec["wall_sec"] = round(time.time() - t0, 3)
    rec["kind"] = "trigram"
    return commit_record(index_dir, TRIGRAM_CHUNK, rec)


def _append_trigrams(ddir: str, terms) -> None:
    """One (field, term, gram) delta file of ``terms``' trigrams, sorted
    by (field, gram, term), with ``trigrams_col``'s grams: every
    3-char substring, or the whole term when it is shorter."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    pairs = {(f, t) for f, t in zip(terms["field"].to_pylist(), terms["term"].to_pylist())
             if t is not None}
    rows = sorted({(f, g, t) for f, t in pairs
                   for g in (t[i:i + 3] for i in range(max(len(t) - 2, 1)))})
    table = pa.table({
        "field": pa.array([r[0] for r in rows], pa.string()),
        "term": pa.array([r[2] for r in rows], pa.string()),
        "gram": pa.array([r[1] for r in rows], pa.string()),
    })
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(ddir, f".{name}.tmp")
    pq.write_table(table, tmp, store_schema=False)
    os.replace(tmp, os.path.join(ddir, name))


def load_trigram_index(spark: SparkSession, index_dir: str,
                       files: list[str] | None = None) -> DataFrame | None:
    """The trigram table over ``files`` (default: the ``trigram_files``
    of the current manifest); None when there are none (absent or
    stale)."""
    d = _arrow_dataset(trigram_files(index_dir, read_manifest(index_dir))
                       if files is None else files)
    return None if d is None else read_table(spark, os.path.join(index_dir, TRIGRAM_CHUNK), d)


def trigram_candidates(trigram: DataFrame, field: str, runs: list[str],
                       short_gram_cap: int = 4096) -> DataFrame | None:
    """Terms containing ALL the pattern's literal runs (a superset of
    the true matches — the caller still applies its rlike).

    Runs of >= 3 chars prune exactly as before: the term must carry
    EVERY trigram of the run (gram IN-list -> row-group seek on the
    sorted gram column).  Runs of 1-2 chars (``*ab*``, ``?a?b`` — the
    round-4 verdict's residual full-scan shapes) prune via a
    GRAM-DICTIONARY PROBE: a term contains run r iff some gram of the
    term contains r (trigram windows cover every <= 3-char occurrence;
    terms shorter than 3 chars carry their whole text as their gram),
    so one scan of the small distinct-gram column yields the matching
    gram set, which joins the IN-list seek like an exact trigram.  A
    run matching more than ``short_gram_cap`` grams is dropped as
    unselective (the rlike fallback is always correct); None when no
    run yields any pruning."""
    uruns = sorted(set(runs))
    need = sorted({
        run[i:i + 3] for run in uruns if len(run) >= 3
        for i in range(len(run) - 2)
    })
    # a short run contained in another run (or in a required trigram)
    # is already implied by it
    short = [
        r for r in uruns
        if len(r) < 3
        and not any(r in o for o in uruns if o != r)
        and not any(r in g for g in need)
    ]
    if not need and not short:
        return None
    tf = trigram.filter(F.col("field") == field)
    short_sets: list[list[str]] = []
    if short:
        flags = [F.max(F.col("gram").contains(r).cast("int")).alias(f"_c{i}")
                 for i, r in enumerate(short)]
        probe = (
            tf.select("gram")
            .filter(functools.reduce(
                lambda a, b: a | b,
                [F.col("gram").contains(r) for r in short]))
            .groupBy("gram").agg(*flags)
            .limit(short_gram_cap * len(short) + 1)
            .collect()
        )
        if len(probe) > short_gram_cap * len(short):
            short_sets = [[] for _ in short]  # probe overflow: no pruning
        else:
            short_sets = [
                sorted(r["gram"] for r in probe if r[f"_c{i}"])
                for i in range(len(short))
            ]
            short_sets = [s if len(s) <= short_gram_cap else [] for s in short_sets]
    live = [(r, s) for r, s in zip(short, short_sets) if s]
    if not need and not live:
        return None
    all_grams = sorted(set(need).union(*[s for _, s in live]) if live else set(need))
    aggs, conds = [], []
    if need:
        aggs.append(
            F.countDistinct(F.when(F.col("gram").isin(need), F.col("gram")))
            .alias("_ng"))
        conds.append(F.col("_ng") == len(need))
    for i, (_, gset) in enumerate(live):
        aggs.append(F.max(F.col("gram").isin(gset).cast("int")).alias(f"_s{i}"))
        conds.append(F.col(f"_s{i}") == 1)
    out = (
        tf.filter(F.col("gram").isin(all_grams))
        .groupBy("term").agg(*aggs)
    )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return out.filter(cond).select("term")
