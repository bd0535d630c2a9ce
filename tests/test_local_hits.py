"""The driver placement's result frame (search/topk.py ``LocalHits``)
holds its hits in Python: it must read like the JVM frame
``spark.createDataFrame(table, RESULT_SCHEMA)`` of the same hits, for
every read it answers itself and for transforms that build its JVM
relation; a driver-placed ``search(...).collect()`` sends no py4j
command and starts no Spark job; and concurrent driver searches on one
reader return the sequential answers."""

import sys
import threading

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import DataFrame, functions as F

from golucene_spark.index import CorpusSpec, FieldSpec, IndexBuilder, MaterializedIndex
from golucene_spark.search import Searcher, parse_query
from golucene_spark.search.ast import FuzzyQuery, PhraseQuery
from golucene_spark.search.executor import RESULT_SCHEMA
from golucene_spark.search.topk import LocalHits

SPEC = CorpusSpec(
    text_fields=[FieldSpec("content", "content", True)],
    keyword_fields=[FieldSpec("lang", "lang", False)],
    key_cols=["doc_id"], id_col="doc_id", meta_cols=["lang"],
)
WORDS = [f"w{i}" for i in range(30)]

QUERIES = {
    "term": parse_query("content:w3"),
    "boolean": parse_query("content:w0 AND (content:w4 OR content:w7) AND NOT content:w9"),
    "phrase": PhraseQuery("content", ("w0", "w1")),
    "fuzzy": FuzzyQuery("content", "w12", 1),
    "miss": parse_query("content:nosuchterm"),
}
# distinct queries for the concurrency test: every kernel shape
CONCURRENT = [
    parse_query("content:w5"), parse_query("content:w17"),
    parse_query("content:w1 AND content:w2"), parse_query("content:w3 OR content:w8"),
    parse_query("content:w0 AND NOT content:w6"),
    parse_query(" OR ".join(f"content:w{i}" for i in range(10, 26))),
    parse_query("lang:de AND content:w4"),
    PhraseQuery("content", ("w1", "w0")), PhraseQuery("content", ("w0", "w2"), slop=2),
    FuzzyQuery("content", "w21", 1), FuzzyQuery("content", "w7", 1, boost=2.0),
    parse_query("content:nosuchterm"),
]


def _rows(n, seed):
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, len(WORDS) + 1) ** 0.8
    p /= p.sum()
    return [(int(i), " ".join(rng.choice(WORDS, size=int(rng.integers(4, 30)), p=p)),
             ["en", "de"][int(rng.integers(2))]) for i in range(n)]


@pytest.fixture(scope="module")
def ixdir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("local_hits") / "ix")
    frame = spark.createDataFrame(_rows(200, 11), "doc_id long, content string, lang string")
    IndexBuilder(spark, SPEC, analyzer="whitespace", num_segments=3,
                 index_positions=True).build(frame, d)
    return d


@pytest.fixture(scope="module")
def ix(spark, ixdir):
    return MaterializedIndex(spark, ixdir)


def _chain(hits, meta):
    """orderBy + filter + join + union + limit + cache, collected."""
    joined = hits.orderBy(F.desc("score")).filter(F.col("score") > 0).join(meta, "doc_id")
    out = joined.union(hits.join(meta, "doc_id").limit(1)).limit(50).cache()
    try:
        return sorted(out.collect())
    finally:
        out.unpersist()


def _fields(schema):
    return [(f.name, f.type if isinstance(f, pa.Field) else f.dataType) for f in schema]


def _assert_reads_agree(h, ref, nullability=True):
    """``nullability=False`` compares names and types alone: the Spark
    placement's ``collect_topk`` frame declares both columns nullable."""
    rows, want = h.collect(), ref.collect()
    assert rows == want
    for r, w in zip(rows, want):
        assert r.__fields__ == w.__fields__ == ["doc_id", "score"]
        assert [type(v) for v in r] == [type(v) for v in w] == [int, float]
    assert h.count() == ref.count()
    assert h.take(3) == ref.take(3)
    assert h.head() == ref.head()
    assert h.first() == ref.first()
    assert h.head(2) == ref.head(2)
    pd_h, pd_ref = h.toPandas(), ref.toPandas()
    assert list(pd_h.dtypes) == list(pd_ref.dtypes)
    assert pd_h.equals(pd_ref)
    assert _fields(h.toArrow().schema) == _fields(ref.toArrow().schema)
    assert h.toArrow().to_pydict() == ref.toArrow().to_pydict()
    assert _fields(h.schema) == _fields(ref.schema) == _fields(RESULT_SCHEMA)
    if nullability:
        assert h.toArrow().schema.equals(ref.toArrow().schema, check_metadata=True)
        assert [f.nullable for f in h.toArrow().schema] == [False, False]
        assert h.schema == ref.schema == RESULT_SCHEMA
    assert h.columns == ref.columns == ["doc_id", "score"]
    assert h.dtypes == ref.dtypes


def test_local_hits_read_like_the_jvm_frame(spark, ix, placement):
    meta = ix.live_doc_meta().select("doc_id", "lang")
    got = {}
    for where in placement():
        for name, q in QUERIES.items():
            h = Searcher(ix, "bm25").search(q, 20)
            assert isinstance(h, DataFrame)
            assert isinstance(h, LocalHits) == (where == "driver"), (where, name)
            rows = h.collect()
            assert bool(rows) == (name != "miss"), name
            table = pa.table({"doc_id": [r["doc_id"] for r in rows],
                              "score": [r["score"] for r in rows]})
            ref = spark.createDataFrame(table, RESULT_SCHEMA)
            _assert_reads_agree(h, ref, nullability=where == "driver")
            assert _chain(h, meta) == _chain(ref, meta), (where, name)
            got[where, name] = rows
    for name in QUERIES:
        a, b = got["driver", name], got["spark", name]
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], name
        assert [r["score"] for r in a] == pytest.approx([r["score"] for r in b], rel=1e-9)


def test_local_hits_builds_its_relation_on_first_use(ix):
    h = Searcher(ix, "bm25").search(QUERIES["term"], 5)
    for read in (h.collect, h.count, h.toArrow, h.toPandas, h.first, lambda: h.columns):
        read()
    assert "_jdf" not in vars(h)
    assert h.limit(2).count() == 2  # any other method builds it
    assert "_jdf" in vars(h)
    h.schema.fields[0].name = "mutated"  # each frame hands out its own schema
    assert Searcher(ix, "bm25").search(QUERIES["term"], 5).columns == ["doc_id", "score"]


@pytest.fixture
def py4j_commands(spark):
    """``with py4j_commands() as sent:`` collects the py4j commands this
    thread sends to the JVM inside the block (the finalizer thread's
    object releases are left out)."""
    import contextlib

    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def count():
        sent, me = [], threading.get_ident()
        real = client.send_command

        def send(command, *a, **kw):
            if threading.get_ident() == me:
                sent.append(command)
            return real(command, *a, **kw)

        client.send_command = send
        try:
            yield sent
        finally:
            del client.send_command

    return count


def test_driver_search_sends_no_py4j_command(spark, spark_jobs, py4j_commands, ix, placement):
    s = Searcher(ix, "bm25")
    for name, q in QUERIES.items():
        s.search(q, 10).collect()  # stats and expansions cached in both placements
    for where in placement():
        for name, q in QUERIES.items():
            with spark_jobs(f"local-hits-{where}-{name}") as jobs:
                with py4j_commands() as sent:
                    rows = s.search(q, 10).collect()
            assert bool(rows) == (name != "miss")
            if where == "driver":
                assert sent == [] and jobs == [], (name, sent[:3])
            else:
                assert sent, name


def test_concurrent_driver_searches_equal_the_sequential_ones(spark, ixdir):
    seq_ix = MaterializedIndex(spark, ixdir)
    want = [Searcher(seq_ix, "bm25").search(q, 10).collect() for q in CONCURRENT]
    assert all(want[:-1]) and not want[-1]

    # one fresh reader: the threads race on its first-use Arrow datasets,
    # term stats, expansions and collection stats; a short switch
    # interval interleaves them inside those builds
    ix = MaterializedIndex(spark, ixdir)
    n = 4
    start = threading.Barrier(n, timeout=60)
    got, errors = [None] * n, []

    def client(t):
        try:
            start.wait()
            order = [(i + 3 * t) % len(CONCURRENT) for i in range(len(CONCURRENT))]
            out = {}
            for i in order:
                hits = Searcher(ix, "bm25").search(CONCURRENT[i], 10)
                assert isinstance(hits, LocalHits)
                out[i] = hits.collect()
            got[t] = [out[i] for i in range(len(CONCURRENT))]
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(t,)) for t in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    for t in range(n):
        assert got[t] == want, t
