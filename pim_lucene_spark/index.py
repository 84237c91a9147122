"""User-facing facade: the engine's `IndexWriter`/`IndexSearcher` analogue.

The reference's user surface is Lucene's: build via ``IndexWriter`` +
``PimIndexWriter`` hook, query via ``IndexSearcher.search(PimPhraseQuery
(field, terms...), k)`` (``TestPimIndexSearcher.java:77-164``).  The Spark
engine's one-object equivalent:

    idx = FullTextIndex.build(spark, docs_df, "/path/idx",
                              IndexConfig(num_partitions=2048))
    hits = idx.search([(0, "def main"), (1, "import os")], k=10)
    one  = idx.search_phrase("exact phrase here", k=10)
    idx2 = FullTextIndex.open(spark, "/path/idx")
    merged = idx.merge_with(other, out_dir="/path/merged")
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.manifest import IndexManifest, resolve_manifests
from pim_lucene_spark.sparkutil import local_empty


class FullTextIndex:
    """Handle to a built index: search, stats, invariants, merging."""

    def __init__(self, spark: SparkSession, manifest: IndexManifest):
        self.spark = spark
        self.manifest = manifest

    # --- lifecycle ---------------------------------------------------------
    @classmethod
    def build(cls, spark: SparkSession, docs: DataFrame, index_dir: str,
              cfg: IndexConfig = IndexConfig(), *, content_col: str = "content",
              id_col: str | None = None, resume: bool = False,
              source: str = "") -> "FullTextIndex":
        from pim_lucene_spark.operators.index_build import build_index
        return cls(spark, build_index(spark, docs, index_dir, cfg,
                                      content_col=content_col, id_col=id_col,
                                      resume=resume, source=source))

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "FullTextIndex":
        m = IndexManifest.load(index_dir)
        if len(m.completed_chunks) != m.build_chunks:
            raise ValueError(
                f"index at {index_dir} is incomplete "
                f"({len(m.completed_chunks)}/{m.build_chunks} chunks); "
                "resume the build or search with the fallback router")
        return cls(spark, m)

    def merge_with(self, *others: "FullTextIndex", out_dir: str,
                   num_segments: int | None = None) -> "FullTextIndex":
        from pim_lucene_spark.operators.merge import merge_indexes
        manifests = [self.manifest] + [o.manifest for o in others]
        return FullTextIndex(self.spark, merge_indexes(
            self.spark, manifests, out_dir, num_segments=num_segments))

    # --- delete lifecycle ---------------------------------------------------
    def delete_docs(self, doc_ids) -> int:
        """Mark docs deleted (live-docs semantics, the reference's open
        TODO ``PimIndexWriter.java:186-187``): they stop matching every
        query path immediately, while term/collection stats keep
        counting them until the next merge purges their postings —
        exactly Lucene's pre-merge scoring.  ``doc_ids`` is an iterable
        of global ids or a DataFrame with a ``doc_id`` column.  Returns
        the total deleted count.  Single-writer, like ``IndexWriter``.
        """
        from pim_lucene_spark.operators.deletes import write_deletes
        self.manifest = write_deletes(self.spark, self.manifest, doc_ids)
        return self.manifest.deleted_count

    def deleted_doc_ids(self) -> DataFrame:
        from pim_lucene_spark.operators.deletes import deleted_ids
        return deleted_ids(self.spark, self.manifest)

    def live_docs(self) -> DataFrame:
        """The docs table minus deleted rows."""
        d = self.docs()
        if self.manifest.delete_gen:
            d = d.join(self.deleted_doc_ids(), "doc_id", "left_anti")
        return d

    # --- queries -----------------------------------------------------------
    def search(self, queries: list[tuple[int, str]], k: int | None = 10,
               precision: str = "float32", slop: int = 0) -> DataFrame:
        """Batched phrase/term BM25 top-k → (qid, doc_id, freq, norm, score).
        ``k=None`` = every match, unordered (no global rank window).

        ``slop != 0`` routes to the scan over this index's docs table with
        Lucene sloppy-weight semantics (``freq`` becomes DOUBLE) — the
        reference's rewrite-to-PhraseQuery contract, never an exception.
        """
        if slop:
            from pim_lucene_spark.plans.router import search_with_fallback
            return search_with_fallback(self.spark, self.manifest, None,
                                        queries, k=k, slop=slop,
                                        precision=precision)
        from pim_lucene_spark.operators.search import search
        return search(self.spark, self.manifest, queries, k=k,
                      precision=precision)

    def search_phrase(self, text: str, k: int = 10,
                      precision: str = "float32", slop: int = 0) -> DataFrame:
        return self.search([(0, text)], k=k, precision=precision,
                           slop=slop).drop("qid")

    def search_term(self, term: str, k: int | None = None,
                    precision: str = "float32") -> DataFrame:
        return self.search([(0, term)], k=k, precision=precision).drop("qid")

    def search_local(self, queries: list[tuple[int, str]], k: int = 10,
                     precision: str = "float32",
                     postings_cache_mb: int = 256):
        """Serving-path search: the same kernel with no Spark job — the
        reference's resident-index query path (PimSystemManager) for
        POSIX-visible indexes.  Identical results to :meth:`search`;
        returns a pandas frame.  See
        :func:`pim_lucene_spark.operators.search.search_local`."""
        from pim_lucene_spark.operators.search import search_local
        return search_local(self.manifest, queries, k=k,
                            precision=precision,
                            postings_cache_mb=postings_cache_mb)

    def query_local(self, queries, k: int = 10,
                    precision: str = "float32",
                    postings_cache_mb: int = 256):
        """Serving-path typed queries — NO Spark job: ``(qid, text)``
        tuples, Term/Phrase (slop 0), BooleanQuery and DisMaxQuery all
        answer from the resident index (the reference's
        ``PimSystemManager`` route); returns a pandas frame
        (qid, doc_id, freq, norm, score) with NaN freq/norm on compound
        rows.  Row-identical to the distributed plans
        (differential-tested)."""
        from pim_lucene_spark.serving import serve_local
        return serve_local(self.manifest, queries, k, precision,
                           postings_cache_mb, None)

    def query(self, queries, k: int = 10,
              precision: str = "float32") -> DataFrame:
        """Typed-query entry point (the ``PimPhraseQuery`` surface):
        ``queries`` is a list of ``(qid, PhraseQuery|TermQuery)``.  Boosts
        apply Lucene ``BoostQuery`` semantics.  Queries route per their
        slop — exact ones to the indexed kernel, ALL sloppy ones (any mix
        of slop values) to ONE scan-path job with per-query slops — and
        the union is returned; when any sloppy query is present the
        ``freq`` column is DOUBLE (sloppy freqs are sums of
        ``1/(1+matchLength)`` weights)."""
        from pyspark.sql import functions as F

        from pim_lucene_spark.operators.search import search
        from pim_lucene_spark.plans.boolean import BooleanQuery, \
            search_boolean
        from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
        from pim_lucene_spark.plans.multiterm import (FuzzyQuery,
                                                      MultiTermQueryT,
                                                      search_multiterm)
        from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                                  MatchAllDocsQuery,
                                                  to_tuple)
        from pim_lucene_spark.plans.router import search_with_fallback

        from pim_lucene_spark.plans.query import SynonymQuery

        exact, sloppy, slops, boolean, dismax = [], [], {}, [], []
        mt_const, mt_scoring, wrappers = [], [], []
        for qid, q in queries:
            if isinstance(q, (MatchAllDocsQuery, ConstantScoreQuery)):
                wrappers.append((qid, q))
                continue
            if isinstance(q, SynonymQuery):
                # merged-stats pseudo-term scoring — a single-MUST
                # boolean on the compound kernel (sum identity)
                boolean.append((qid, BooleanQuery(must=[q])))
                continue
            from pim_lucene_spark.plans.query import IntervalQuery
            if isinstance(q, IntervalQuery):
                # saturation-scored proximity over stored positions —
                # single-MUST boolean on the compound kernel
                boolean.append((qid, BooleanQuery(must=[q])))
                continue
            from pim_lucene_spark.plans.query import (
                DocValuesRangeQuery, FacetFilterQuery)
            if isinstance(q, (FacetFilterQuery, DocValuesRangeQuery)):
                # bare drill-down / dv-range = pure browse: every live
                # matching doc, constant score 0, doc-id-asc order
                boolean.append((qid, BooleanQuery(
                    must=[MatchAllDocsQuery(boost=0.0)], filter=[q])))
                continue
            if isinstance(q, BooleanQuery):
                boolean.append((qid, q))
                continue
            if isinstance(q, DisMaxQuery):
                dismax.append((qid, q))
                continue
            if isinstance(q, MultiTermQueryT):
                # Lucene default rewrites: constant-score for
                # prefix/wildcard/range/regexp, top-terms scoring for fuzzy
                (mt_scoring if isinstance(q, FuzzyQuery)
                 else mt_const).append((qid, q))
                continue
            s = int(getattr(q, "slop", 0))
            if s == 0:
                exact.append(to_tuple(qid, q))
            else:
                sloppy.append(to_tuple(qid, q))
                slops[qid] = s
        parts = []
        if boolean:
            # boolean results carry no freq/norm — surface as NULLs when
            # unioned with term/phrase results
            b = search_boolean(self.spark, self.manifest, boolean, k=k,
                               precision=precision)
            parts.append(b.select(
                "qid", "doc_id",
                F.lit(None).cast("double").alias("freq"),
                F.lit(None).cast("int").alias("norm"), "score"))
        if dismax:
            d = search_dismax(self.spark, self.manifest, dismax, k=k,
                              precision=precision)
            parts.append(d.select(
                "qid", "doc_id",
                F.lit(None).cast("double").alias("freq"),
                F.lit(None).cast("int").alias("norm"), "score"))
        for mts, rewrite in ((mt_const, "constant_score"),
                             (mt_scoring, "scoring_boolean")):
            if not mts:
                continue
            mt = search_multiterm(self.spark, self.manifest, mts, k=k,
                                  rewrite=rewrite, precision=precision)
            parts.append(mt.select(
                "qid", "doc_id",
                F.lit(None).cast("double").alias("freq"),
                F.lit(None).cast("int").alias("norm"), "score"))
        if wrappers:
            # MatchAllDocsQuery(boost) ≡ BooleanQuery(must=[*:*(boost)]);
            # ConstantScoreQuery(q, boost) ≡ BooleanQuery(
            #   must=[MatchAllDocs(boost)], filter=[q]) — the filter
            # gates scorelessly and the matchall contributes the
            # constant.  Both therefore ride the compound kernel
            # (per-partition k smallest live matching ids, P·k
            # exchange) instead of shipping a docs-table crossJoin or
            # the inner match set at k=10**9.  precision float64
            # keeps score == boost bit-exact (constant scores never
            # touch BM25 floats).
            from pim_lucene_spark.plans.query import PhraseQuery, TermQuery
            clause_ok = (str, TermQuery, PhraseQuery, BooleanQuery,
                         MatchAllDocsQuery, SynonymQuery) + MultiTermQueryT
            wrapped, exotic = [], []
            for qid, q in wrappers:
                if isinstance(q, MatchAllDocsQuery):
                    wrapped.append((qid, BooleanQuery(must=[q])))
                elif isinstance(q.query, clause_ok):
                    wrapped.append((qid, BooleanQuery(
                        must=[MatchAllDocsQuery(boost=float(q.boost))],
                        filter=[q.query])))
                else:
                    # inner types with no boolean-clause form (DisMax,
                    # nested ConstantScore): recursive full evaluation,
                    # then per-qid k smallest ids at score == boost —
                    # the pre-rewrite semantics ("wraps ANY query")
                    exotic.append((qid, q))
            if wrapped:
                b = search_boolean(self.spark, self.manifest, wrapped,
                                   k=k, precision="float64")
                parts.append(b.select(
                    "qid", "doc_id",
                    F.lit(None).cast("double").alias("freq"),
                    F.lit(None).cast("int").alias("norm"), "score"))
            if exotic:
                from pyspark.sql import Window
                inner = self.query([(qid, q.query) for qid, q in exotic],
                                   k=None, precision=precision)
                bmap = self.spark.createDataFrame(
                    [(int(qid), float(q.boost)) for qid, q in exotic],
                    "qid long, score double")
                ids = inner.select("qid", "doc_id").distinct()
                if k is not None:  # k=None (nested recursion): all ids
                    win = Window.partitionBy("qid").orderBy(
                        F.asc("doc_id"))
                    ids = (ids.withColumn("rank",
                                          F.row_number().over(win))
                           .filter(F.col("rank") <= k).drop("rank"))
                parts.append(
                    ids.join(F.broadcast(bmap), "qid")
                    .select("qid", "doc_id",
                            F.lit(None).cast("double").alias("freq"),
                            F.lit(None).cast("int").alias("norm"),
                            "score"))
        if exact:
            parts.append(search(self.spark, self.manifest, exact, k=k,
                                precision=precision))
        if sloppy:
            parts.append(search_with_fallback(
                self.spark, self.manifest, None, sloppy, k=k, slop=slops,
                precision=precision))
        if len(parts) == 1:
            return parts[0]
        out = None
        for p in parts:  # unify: sloppy freq is DOUBLE, exact is LONG
            p = p.withColumn("freq", F.col("freq").cast("double"))
            out = p if out is None else out.unionByName(p)
        return out

    def parse_and_query(self, query_strings, k: int = 10,
                        default_operator: str = "or",
                        precision: str = "float32",
                        synonyms: dict | None = None) -> DataFrame:
        """Classic query-string search: each entry of ``query_strings``
        is ``(qid, "lucene query syntax")`` (see ``plans/parser.py`` for
        the supported grammar); parsed queries route through
        :meth:`query` as one mixed typed batch.  ``synonyms`` applies
        query-time term expansion (``plans/parser.py::apply_synonyms``,
        the SynonymGraphFilter use-case)."""
        from pim_lucene_spark.plans.parser import (apply_synonyms,
                                                   parse_query)
        typed = [(qid, parse_query(s, default_operator=default_operator))
                 for qid, s in query_strings]
        if synonyms:
            typed = [(qid, apply_synonyms(q, synonyms,
                                          self.manifest.tokenizer))
                     for qid, q in typed]
        return self.query(typed, k=k, precision=precision)

    # --- doc-values surfaces -------------------------------------------------
    def build_docvalues(self, col: str, dims: DataFrame | None = None,
                        missing: int = 0) -> str:
        """Numeric doc-values sidecar for ``col`` (sort / range facets).
        ``dims`` defaults to the index's own docs table."""
        from pim_lucene_spark.operators.docvalues import \
            build_numeric_docvalues
        return build_numeric_docvalues(self.spark, self.manifest, col,
                                       dims=dims, missing=missing)

    def build_facets(self, dim: str, dims: DataFrame | None = None,
                     max_cardinality: int = 100_000) -> str:
        """Sorted-set ordinal sidecar for ``dim`` (facets / collapse)."""
        from pim_lucene_spark.operators.facets import build_facet_index
        return build_facet_index(self.spark, self.manifest, dim,
                                 dims=dims, max_cardinality=max_cardinality)

    def sort_by(self, queries, col: str, k: int = 10,
                reverse: bool = False) -> DataFrame:
        """``IndexSearcher.search(query, n, Sort)`` — top-k by the
        numeric doc-values column, doc-id tiebreak."""
        from pim_lucene_spark.operators.docvalues import sort_by_field
        return sort_by_field(self.spark, self.manifest, queries, col,
                             k=k, reverse=reverse)

    def collapse(self, queries, dim: str, k: int = 10,
                 precision: str = "float32") -> DataFrame:
        """Best-scoring doc per ``dim`` group, top-k groups by head
        score (grouping-module field collapse)."""
        from pim_lucene_spark.operators.docvalues import collapse_topk
        return collapse_topk(self.spark, self.manifest, queries, dim,
                             k=k, precision=precision)

    def facets(self, queries, dim: str, top_n: int = 10) -> DataFrame:
        """Top facet buckets per query over an ordinal dimension."""
        from pim_lucene_spark.operators.facets import facet_counts
        return facet_counts(self.spark, self.manifest, queries, dim,
                            top_n=top_n)

    def facet_ranges(self, queries, col: str,
                     ranges: list[tuple[str, int, int]]) -> DataFrame:
        """Per-query counts for numeric ``[lo, hi)`` ranges
        (``LongRangeFacetCounts``; overlap allowed, zeros included)."""
        from pim_lucene_spark.operators.docvalues import facet_ranges
        return facet_ranges(self.spark, self.manifest, queries, col,
                            ranges)

    # --- introspection -----------------------------------------------------
    @property
    def doc_count(self) -> int:
        return self.manifest.doc_count

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.manifest.docs_path)

    def get_docs(self, doc_ids) -> DataFrame:
        """Stored-fields fetch (``StoredFields.document``): the listed
        docs' stored rows, id-pushdown scan — the hits→content join a
        search consumer runs after top-k."""
        ids = [int(d) for d in doc_ids]
        from pyspark.sql import functions as F
        return self.docs().filter(F.col("doc_id").isin(ids))

    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(self.manifest.stats_path)

    def metrics(self) -> dict:
        return dict(self.manifest.metrics)

    def verify_invariant(self, source_df: DataFrame,
                         content_col: str = "content",
                         id_col: str = "doc_id") -> int:
        """Per-row sha256(content) violations vs the source (0 == holds)."""
        from pim_lucene_spark.operators.index_build import (
            verify_content_invariant,
        )
        return verify_content_invariant(self.spark, self.manifest, source_df,
                                        content_col=content_col,
                                        id_col=id_col)


class MultiFieldIndex:
    """Multi-field index: per-field postings, norms and collection stats.

    The reference indexes every field of a document into the same DPU with
    a per-DPU *field table* routing term lookups to the right field's
    postings (``PimIndexWriter.java:162-199,976-995``), and searches name
    the field (``PimIndexSearcher.searchTerm(field, term)``,
    ``TestPimIndexSearcher.java:77-164``).  The Spark-first re-expression
    makes each field a self-contained sub-index under
    ``index_dir/field=<name>/``:

    - a field is an independent posting space in Lucene too (own term
      dictionary, own norms, own avgdl — ``BM25Similarity`` computes norms
      per field), so nothing is shared but the doc ids;
    - the directory layout is the field table: a search touches only its
      field's files (partition pruning by path, no ``field`` predicate in
      any scan), and per-field stats come for free from each manifest.

    Doc ids are assigned once and shared by every field, so cross-field
    result joins line up.

        idx = MultiFieldIndex.build(spark, df, "/path/idx",
                                    fields={"title": "title_col",
                                            "body": "body_col"})
        hits = idx.search([(0, "apache lucene")], field="title")
    """

    MANIFEST = "multifield.json"

    def __init__(self, spark: SparkSession, index_dir: str,
                 fields: list[str], default_field: str,
                 manifests: dict[str, IndexManifest]):
        self.spark = spark
        self.index_dir = index_dir
        self.fields = fields
        self.default_field = default_field
        self.manifests, _ = resolve_manifests(manifests, default_field)

    @classmethod
    def build(cls, spark: SparkSession, docs: DataFrame, index_dir: str,
              fields: dict[str, str], cfg: IndexConfig = IndexConfig(), *,
              id_col: str | None = None, order_cols: list[str] | None = None,
              source: str = "") -> "MultiFieldIndex":
        """``fields`` maps field name → source column of ``docs``."""
        if not fields:
            raise ValueError("need at least one field")
        from pyspark.sql import functions as F

        from pim_lucene_spark.operators.index_build import (
            _assign_doc_ids,
            build_index,
        )
        os.makedirs(index_dir, exist_ok=True)
        if id_col is None:
            # assign ids once and materialize, so every field's sub-index
            # shares the identical id space
            cols = order_cols or [next(iter(fields.values()))]
            src_path = os.path.join(index_dir, "docs_src")
            with_ids, persisted, _n = _assign_doc_ids(docs, cols)
            with_ids.write.mode("overwrite").parquet(src_path)
            persisted.unpersist()
            docs = spark.read.parquet(src_path)
            id_col = "doc_id"
        manifests = {}
        for name, col in fields.items():
            sub = os.path.join(index_dir, f"field={name}")
            manifests[name] = build_index(
                spark, docs.select(F.col(id_col), F.col(col)), sub, cfg,
                content_col=col, id_col=id_col, source=source)
        default = next(iter(fields))
        meta = {"fields": list(fields), "default_field": default,
                "version": 1}
        with open(os.path.join(index_dir, cls.MANIFEST), "w") as f:
            json.dump(meta, f, indent=2)
        return cls(spark, index_dir, list(fields), default, manifests)

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "MultiFieldIndex":
        with open(os.path.join(index_dir, cls.MANIFEST)) as f:
            meta = json.load(f)
        manifests = {
            name: IndexManifest.load(os.path.join(index_dir, f"field={name}"))
            for name in meta["fields"]
        }
        return cls(spark, index_dir, meta["fields"], meta["default_field"],
                   manifests)

    def _field(self, field: str | None) -> IndexManifest:
        name = field or self.default_field
        if name not in self.manifests:
            raise KeyError(f"unknown field {name!r}; have {self.fields}")
        return self.manifests[name]

    def search(self, queries: list[tuple[int, str]], k: int = 10,
               field: str | None = None,
               precision: str = "float32") -> DataFrame:
        """Batched phrase/term BM25 top-k within one field's posting space
        (BM25 stats — df, avgdl, norms — are the field's own)."""
        from pim_lucene_spark.operators.search import search
        return search(self.spark, self._field(field), queries, k=k,
                      precision=precision)

    def search_term(self, term: str, field: str | None = None,
                    k: int | None = None,
                    precision: str = "float32") -> DataFrame:
        return self.search([(0, term)], k=k, field=field,
                           precision=precision).drop("qid")

    def search_phrase(self, text: str, field: str | None = None,
                      k: int = 10,
                      precision: str = "float32") -> DataFrame:
        return self.search([(0, text)], k=k, field=field,
                           precision=precision).drop("qid")

    def parse_and_query(self, query_strings, k: int = 10,
                        default_operator: str = "or",
                        precision: str = "float32",
                        synonyms: dict | None = None) -> DataFrame:
        """Classic query strings WITH ``field:`` bindings — e.g.
        ``'+title:merge body:scan*'``.  Each parsed query becomes a
        boolean whose clauses evaluate on their field's sub-index
        (unfielded clauses take the default field), composed per
        partition by the compound kernel (fields share one pid space);
        single clauses run as a one-MUST boolean
        (identical score).  ``synonyms`` applies query-time term
        expansion (``apply_synonyms``).  Returns (qid, doc_id, score)."""
        from pim_lucene_spark.plans.boolean import (BooleanQuery,
                                                    search_boolean_fields)
        from pim_lucene_spark.plans.parser import (apply_synonyms,
                                                   parse_query)

        typed = []
        for qid, s in query_strings:
            q = parse_query(s, default_operator=default_operator,
                            allow_fields=True)
            if synonyms:
                q = apply_synonyms(
                    q, synonyms,
                    self.manifests[self.default_field].tokenizer)
            if not isinstance(q, BooleanQuery):
                q = BooleanQuery(must=[q])
            typed.append((qid, q))
        return search_boolean_fields(self.spark, self.manifests,
                                     self.default_field, typed, k=k,
                                     precision=precision)

    def parse_and_query_local(self, query_strings, k: int = 10,
                              default_operator: str = "or",
                              precision: str = "float32",
                              postings_cache_mb: int = 256):
        """Serving-path fielded query strings — NO Spark job: parsed
        exactly like :meth:`parse_and_query` (``'+title:merge body:x'``)
        but evaluated by the resident compound kernel over every field's
        sub-index (shared pid space).  Returns a pandas frame
        (qid, doc_id, score); row-identical to the distributed fielded
        plans (differential-tested).  Fuzzy and constant-score multiterm
        clauses expand against the resident term dictionary (at any
        width) and sloppy clauses run the resident matcher over stored
        positions."""
        from pim_lucene_spark.plans.boolean import BooleanQuery
        from pim_lucene_spark.plans.compound import search_compound_local
        from pim_lucene_spark.plans.parser import parse_query

        typed = []
        for qid, s in query_strings:
            q = parse_query(s, default_operator=default_operator,
                            allow_fields=True)
            if not isinstance(q, BooleanQuery):
                q = BooleanQuery(must=[q])
            typed.append((qid, q))
        return search_compound_local(
            self.manifests, typed, k=k, precision=precision,
            postings_cache_mb=postings_cache_mb,
            default_field=self.default_field)

    def search_combined(self, queries: list[tuple[int, str]], k: int = 10,
                        field_weights: dict[str, float] | None = None,
                        precision: str = "float32",
                        exhaustive: bool | str = "ta",
                        max_driver_rows: int = 2_000_000) -> DataFrame:
        """Multi-field ranked retrieval: per-field BM25 scores combined as
        a weighted sum per (query, doc) — the score-combination family of
        the sandbox's ``CombinedFieldQuery`` (the reference repo ships it
        alongside the pim module), with each field scored against its OWN
        stats as Lucene does for per-field queries.

        ``exhaustive``:

        - ``"ta"`` (default): EXACT top-k via a threshold merge (Fagin's
          NRA family): per-field top-m cursors with upper bound
          ``Σ_f w_f · τ_f`` (τ_f = the m-th score of field f, 0 once the
          field's matches are exhausted); m grows geometrically until the
          k-th fully-resolved lower bound dominates every other doc's
          upper bound.  The union + groupBy over every matching doc never
          happens — per round only ``m·|fields|`` rows leave the bounded
          per-field top-k plans.  Falls back to the exhaustive plan if a
          round would pull more than ``max_driver_rows``.
        - ``True``: exhaustive distributed plan — every matching doc of
          every field flows through one union + groupBy (per-field
          sub-searches run unbounded with NO rank window; the partial
          aggregation is map-side, so no single task ever holds a
          query's full match set).  Exact; the shuffle is O(matching
          docs), so prefer ``"ta"`` at scale — this plan is retained as
          ``"ta"``'s differential oracle and its residual fallback.
        - ``False``: combines each field's top-k only — cheapest, may
          miss docs that rank via the sum without making any single
          field's top-k (rank-unsafe, documented).

        Returns (qid, doc_id, score) with score = Σ_f w_f · score_f.

        Float caveat: the 'ta' merge sums per-field scores in field
        order while the exhaustive plan's ``F.sum`` aggregates in shuffle
        order — with 2 fields both reduce to one addition (bit-equal);
        with 3+ fields the two exact paths can differ in the last ulp.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        weights = field_weights or {f: 1.0 for f in self.fields}
        unknown = set(weights) - set(self.fields)
        if unknown:
            raise KeyError(f"unknown fields {sorted(unknown)}")
        if exhaustive == "ta":
            return self._search_combined_ta(queries, k, weights, precision,
                                            max_driver_rows)
        # exhaustive: k=None per-field sub-searches — full match sets
        # flow straight into the union + groupBy (map-side partial agg),
        # with no per-qid rank window single-tasking each field's matches
        per_field_k = None if exhaustive else k
        parts = []
        for fname, w in weights.items():
            res = self.search(queries, k=per_field_k, field=fname,
                              precision=precision)
            parts.append(res.select(
                "qid", "doc_id",
                (F.col("score") * F.lit(float(w))).alias("wscore")))
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)
        combined = (un.groupBy("qid", "doc_id")
                    .agg(F.sum("wscore").alias("score")))
        win = Window.partitionBy("qid").orderBy(F.desc("score"),
                                                F.asc("doc_id"))
        return (combined.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k).drop("rank"))

    # telemetry for tests/plan audits: rows fetched by the last TA run
    last_ta_rows_fetched: int = 0

    def _search_combined_ta(self, queries, k, weights, precision,
                            max_driver_rows) -> DataFrame:
        """Exact bounded combined top-k (threshold merge; see
        :meth:`search_combined`).  Driver memory is bounded by
        ``m·|fields|`` rows per round, never by the corpus."""
        from pyspark.sql import functions as F  # noqa: F401
        from pyspark.sql import types as T

        fnames = list(weights)
        ws = {f: float(weights[f]) for f in fnames}
        out_schema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ])
        if k <= 0:
            return local_empty(self.spark, out_schema)
        pending = list(queries)
        final_rows: list[tuple[int, int, float]] = []
        m = max(4 * k, 64)
        self.last_ta_rows_fetched = 0
        while pending:
            if m * len(fnames) > max_driver_rows:
                # residual queries: hand off to the exhaustive plan
                rest = self.search_combined(pending, k=k,
                                            field_weights=weights,
                                            precision=precision,
                                            exhaustive=True)
                done = self.spark.createDataFrame(
                    final_rows or [], out_schema)
                return done.unionByName(rest)
            per_field = {}
            for f in fnames:
                pdf = self.search(pending, k=m, field=f,
                                  precision=precision).toPandas()
                per_field[f] = pdf
                self.last_ta_rows_fetched += len(pdf)
            still = []
            for q in pending:
                qid = q[0]
                cand: dict[int, dict[str, float]] = {}
                tau, exhausted = {}, {}
                for f in fnames:
                    rows = per_field[f][per_field[f].qid == qid]
                    for d, s in zip(rows.doc_id, rows.score):
                        cand.setdefault(int(d), {})[f] = float(s)
                    exhausted[f] = len(rows) < m
                    tau[f] = 0.0 if exhausted[f] else float(rows.score.min())
                low, up, resolved = {}, {}, {}
                for d, by_f in cand.items():
                    lo = sum(ws[f] * by_f.get(f, 0.0) for f in fnames)
                    hi = sum(ws[f] * by_f.get(
                        f, 0.0 if exhausted[f] else tau[f])
                        for f in fnames)
                    low[d], up[d] = lo, hi
                    resolved[d] = all(f in by_f or exhausted[f]
                                      for f in fnames)
                res_docs = sorted((d for d in cand if resolved[d]),
                                  key=lambda d: (-low[d], d))
                topk = res_docs[:k]
                kth = low[topk[-1]] if len(topk) == k else None
                all_exhausted = all(exhausted.values())
                ok = True
                if kth is None:
                    ok = all_exhausted  # fewer than k true matches
                else:
                    if not all_exhausted:
                        unseen_ub = sum(ws[f] * tau[f] for f in fnames)
                        ok &= unseen_ub < kth
                    ok &= all(up[d] < kth for d in cand
                              if d not in topk and not resolved[d])
                if ok:
                    final_rows += [(int(qid), int(d), float(low[d]))
                                   for d in topk]
                else:
                    still.append(q)
            pending = still
            m *= 8
        return self.spark.createDataFrame(final_rows or [], out_schema)

    def delete_docs(self, doc_ids) -> int:
        """Mark docs deleted across EVERY field's sub-index (doc ids are
        shared, so a document disappears from all fielded/BM25F/combined
        query paths at once); same live-docs semantics as
        :meth:`FullTextIndex.delete_docs`."""
        from pim_lucene_spark.operators.deletes import write_deletes
        # Materialize once: the contract accepts any iterable (including a
        # one-shot generator), and every field must see the SAME id set —
        # a generator exhausted by the first field would silently write
        # empty delete generations for the rest.  A DataFrame passes
        # through untouched (list(df) would iterate __getitem__ and
        # yield Column objects, not ids).
        if not isinstance(doc_ids, (list, tuple, set, frozenset,
                                    DataFrame)):
            doc_ids = list(doc_ids)
        total = 0
        for name in self.fields:
            self.manifests[name] = write_deletes(
                self.spark, self.manifests[name], doc_ids)
            total = self.manifests[name].deleted_count
        return total

    def search_bm25f(self, queries: list[tuple[int, str]], k: int = 10,
                     field_weights: dict[str, float] | None = None,
                     precision: str = "float32") -> DataFrame:
        """True BM25F ranking — the sandbox ``CombinedFieldQuery`` scoring
        (``CombinedFieldQuery.java:322-470``): the query's terms across all
        fields score as ONE pseudo-term in ONE pseudo-field.

        - pseudo term stats: ``docFreq = max`` over every (field, term)
          pair, ``totalTermFreq = Σ ⌊w_f · ttf(t,f)⌋`` (the reference's
          long-accumulation-of-doubles truncates per addition,
          ``:335-341``); one idf for the whole query (``:342-348``)
        - pseudo collection stats: ``docCount = max`` over fields,
          ``sumTotalTermFreq = Σ ⌊w_f · sumTTF_f⌋`` (``:353-371``)
        - per-doc freq: ``Σ w_f · tf(t, f, doc)`` over all matching pairs
          (disjunction; ``WeightedDisiWrapper.freq``, ``:447-457``)
        - per-doc norm: decode each field's SmallFloat norm byte, combine
          ``round(Σ w_f · length_f)``, re-encode (``MultiNormsLeafSimScorer
          .java:140-153``), then score BM25 once

        This ranking differs from :meth:`search_combined`'s weighted
        score-sum exactly where BM25F says it should (shared idf and
        length normalization).  Exact and exhaustive by construction —
        like Lucene's scorer it iterates the full disjunction; the plan is
        the per-partition BM25F kernel over every field's co-located
        postings and norms (fields share ``num_partitions``), then a
        top-k window over ≤ P·k rows per query.

        Float caveat: per-doc freq and norm sums run in column order, not
        Lucene's docid-iterator order; with field weights that are small
        dyadic rationals (1.0, 2.0, 0.5 …) and integer tfs every partial
        sum is exact, so order cannot matter.  Returns
        (qid, doc_id, freq, score).
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from pim_lucene_spark.functions import bm25
        from pim_lucene_spark.operators.search import (
            _normalize_queries,
            _tokenize_queries,
        )

        weights = field_weights or {f: 1.0 for f in self.fields}
        manifests, _ = resolve_manifests(
            {f: self._field(f) for f in weights})
        any_m = next(iter(manifests.values()))
        tokenizer, k1, b = any_m.tokenizer, any_m.k1, any_m.b

        def _wfloor(w: float, v: int) -> int:
            # long += (double) w * v  — truncation per addition (:335-341)
            return int(np.floor(np.float64(np.float32(w)) * v))

        doc_count = max(m.doc_count for m in manifests.values())
        sum_ttf = sum(_wfloor(weights[f], m.sum_total_term_freq)
                      for f, m in manifests.items())
        avgdl = bm25.avg_field_length(max(1, sum_ttf), doc_count, precision)
        cache = bm25.score_cache(avgdl, k1, b, precision)

        # Builder.termsSet is a set — terms dedupe within a query
        per_q = {qid: (list(dict.fromkeys(ts)), boost)
                 for qid, (ts, boost) in _tokenize_queries(
                     _normalize_queries(queries), tokenizer).items()}
        all_terms = sorted({t for ts, _ in per_q.values() for t in ts})
        out_schema = T.StructType([
            T.StructField("qid", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("freq", T.DoubleType()),
            T.StructField("score", T.DoubleType()),
        ])
        empty = local_empty(self.spark, out_schema)
        if not all_terms:
            return empty

        # per-(field, term) stats — tiny IN-pushdown collects
        stats: dict[tuple[str, str], tuple[int, int]] = {}
        for f, m in manifests.items():
            for r in (self.spark.read.parquet(m.stats_path)
                      .filter(F.col("term").isin(all_terms))
                      .select("term", "doc_freq", "total_tf").collect()):
                stats[(f, r["term"])] = (int(r["doc_freq"]),
                                         int(r["total_tf"]))

        planned: dict[int, float] = {}
        for qid, (terms, boost) in per_q.items():
            df_max, ttf = 0, 0
            for t in terms:
                for f in manifests:
                    if (f, t) in stats:
                        d, tt = stats[(f, t)]
                        df_max = max(df_max, d)
                        ttf += _wfloor(weights[f], tt)
            if df_max > 0:
                planned[qid] = float(bm25.phrase_weight(
                    np.array([df_max], dtype=np.int64), doc_count,
                    boost=boost, precision=precision))
        if not planned:
            return empty

        # per-field postings are co-located by doc_id % P, so the
        # weighted-tf disjunction, combined-norm re-encode and single
        # BM25 score all run per partition (plans/compound.py); only
        # top-k rows shuffle
        from pim_lucene_spark.plans.compound import eval_bm25f
        fnames = list(manifests)
        specs = []
        for qid in planned:
            terms = per_q[qid][0]
            specs.append({"qid": int(qid), "op": "bm25f",
                          "pairs": [(f, t, float(np.float32(weights[f])))
                                    for f in fnames for t in terms]})
        needed = sorted({t for qid in planned for t in per_q[qid][0]})
        return eval_bm25f(
            self.spark, manifests, specs,
            {int(q): float(w) for q, w in planned.items()}, cache,
            [(f, float(np.float32(weights[f]))) for f in fnames],
            needed, k, precision)

    def field_stats(self) -> dict[str, dict]:
        """Per-field collection stats (each field has its own avgdl)."""
        return {
            name: {"doc_count": m.doc_count,
                   "sum_ttf": m.sum_total_term_freq,
                   "avgdl": m.avgdl}
            for name, m in self.manifests.items()
        }
