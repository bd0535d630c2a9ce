"""Federated search over several indexes — the CompositeReader /
MultiReader role (core/index/compositeReader.go:126-161): each
sub-index gets a docBase, global docID = base + local docID, and
term/collection statistics aggregate across sub-readers exactly as
Lucene's composite statistics do.

search_test.go's TestFederatedSearch sketches this surface (ss :=
NewSearcher(); ss.IncludeIndex(a); ss.IncludeIndex(b)); the Searcher
works unchanged on a MultiIndex because statistics and postings
frames compose by union + shift."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..search.cache import SnapshotCache

# default docBase stride: far above SEGMENT_STRIDE * num_segments of
# any single index, so shifted ids never collide (doc_id is int64)
DOC_BASE_STRIDE = 1 << 50


class MultiIndex:
    """Composite over LogicalIndex / MaterializedIndex sub-readers."""

    def __init__(self, indexes: list, doc_base_stride: int = DOC_BASE_STRIDE):
        assert indexes, "MultiIndex needs at least one sub-index"
        self.indexes = list(indexes)
        self.stride = doc_base_stride
        self.spark = indexes[0].spark
        quant = {ix.quantized for ix in indexes}
        assert len(quant) == 1, "sub-indexes disagree on norm quantization"
        self.quantized = quant.pop()
        self.snapshot_cache = SnapshotCache()

    def doc_base(self, i: int) -> int:
        return i * self.stride

    def _shift(self, df: DataFrame, i: int) -> DataFrame:
        return df.withColumn("doc_id", F.col("doc_id") + F.lit(self.doc_base(i)))

    def _union(self, frames: list[DataFrame]) -> DataFrame:
        # allowMissingColumns: sub-indexes may differ in optional columns
        # (e.g. one stores payloads, another predates them) — absent
        # columns read as null, matching a single mixed-chunk index
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # -- Searcher surface -------------------------------------------------
    def postings_for_terms(self, field: str, terms: list[str],
                           with_positions: bool = False,
                           with_payloads: bool = False) -> DataFrame:
        return self._union([
            self._shift(
                ix.postings_for_terms(field, terms,
                                      with_positions=with_positions,
                                      with_payloads=with_payloads), i)
            for i, ix in enumerate(self.indexes)
        ])

    def term_stats(self, field: str, terms: list[str]) -> DataFrame:
        u = self._union([ix.term_stats(field, terms) for ix in self.indexes])
        return u.groupBy("term").agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))

    def lookup_term_stats(self, field: str, terms: list[str]) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for ix in self.indexes:
            for t, r in ix.lookup_term_stats(field, terms).items():
                o = out.setdefault(t, {"df": 0, "ttf": 0})
                o["df"] += int(r["df"])
                o["ttf"] += int(r["ttf"])
        return out

    def collection_stats_row(self, field: str) -> dict:
        def compute():
            rows = [ix.collection_stats_row(field) for ix in self.indexes]
            return {
                "field": field,
                "max_doc": sum(int(r["max_doc"]) for r in rows),
                "doc_count": sum(int(r.get("doc_count") or 0) for r in rows),
                "sum_ttf": sum(int(r["sum_ttf"] or 0) for r in rows),
            }

        return self.snapshot_cache.get("collection", field, compute)

    @property
    def doc_stats(self) -> DataFrame:
        return self._union([
            self._shift(ix.doc_stats, i) for i, ix in enumerate(self.indexes)
        ])

    # -- optional stored-field surface ------------------------------------
    @property
    def doc_meta(self) -> DataFrame:
        frames = [
            self._shift(ix.doc_meta, i)
            for i, ix in enumerate(self.indexes)
            if hasattr(ix, "doc_meta")
        ]
        if not frames:
            raise AttributeError("no sub-index materializes doc_meta")
        return self._union(frames)

    def live_doc_meta(self) -> DataFrame:
        frames = [
            self._shift(ix.live_doc_meta() if hasattr(ix, "live_doc_meta") else ix.doc_meta, i)
            for i, ix in enumerate(self.indexes)
            if hasattr(ix, "doc_meta")
        ]
        if not frames:
            raise AttributeError("no sub-index materializes doc_meta")
        return self._union(frames)

    def document(self, doc_id: int) -> dict | None:
        i, local = divmod(int(doc_id), self.stride)
        if i >= len(self.indexes) or not hasattr(self.indexes[i], "document"):
            return None
        return self.indexes[i].document(local)

    def term_vector(self, doc_id: int, field: str | None = None) -> list[dict]:
        """getTermVector routed by docBase (composite readers delegate
        per-doc reads to the owning leaf, compositeReader.go:126-161)."""
        i, local = divmod(int(doc_id), self.stride)
        if i >= len(self.indexes) or not hasattr(self.indexes[i], "term_vector"):
            return []
        try:
            return self.indexes[i].term_vector(local, field=field)
        except ValueError:  # leaf built without store_term_vectors
            return []
