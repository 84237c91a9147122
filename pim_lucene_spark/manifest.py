"""Index manifest: global metadata, per-partition lineage + metrics.

The Spark-native analogue of the reference's ``pimIndexInfo``
(``PimIndexWriter.java:232-247``, ``PimIndexInfo.java:36-78``): number of
partitions/segments, per-field quantization factor, doc-count bookkeeping —
extended with the build-metrics set the reference emits under
``ENABLE_STATS`` (``PimIndexWriter.java:638-649``: per-DPU term counts and
byte sizes) and with chunk-level checkpoint lineage for resumable builds
(Spark-native analogue of ``context_save_restore.c:17-68``).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class IndexManifest:
    index_dir: str
    num_partitions: int
    num_segments: int
    doc_count: int
    sum_total_term_freq: int
    nb_doc_per_segment: int
    tokenizer: str = "whitespace"
    k1: float = 1.2
    b: float = 0.75
    norm_quant_factor: int = 0
    max_postings_per_stripe: int = 1 << 17
    build_chunks: int = 1
    completed_chunks: list[int] = field(default_factory=list)
    source: str = ""
    content_col: str = "content"
    metrics: dict = field(default_factory=dict)
    # doc-id span (max doc_id + 1, including round-up padding gaps from
    # merges).  0 == dense ids (span == doc_count, fresh builds).  Merges
    # MUST compute doc-base offsets from the span, not doc_count — a merged
    # source's id space contains gaps.
    doc_span: int = 0
    # unique id of this build/merge (stats caches key on it so a rebuilt
    # index in the same directory never serves stale term stats)
    build_id: str = ""
    # delete-vector generation: 0 = no deletes; g > 0 = the live-docs
    # state at deletes/gen=g/ (a Parquet of deleted GLOBAL doc ids,
    # partitioned by pid).  Each delete_docs() call writes a NEW
    # generation with the full deleted set and bumps the counter, so a
    # reader holding a manifest snapshot never sees a half-written
    # delete vector (single-writer, like a Lucene commit point).
    # Postings/norms/stats are untouched: like Lucene, deleted docs are
    # filtered at query time and purged (with stats recomputed) at the
    # next merge — the live-docs design the reference leaves as TODO
    # (PimIndexWriter.java:186-187; lifecycle of
    # TestPimIndexWriter.java:72-118).
    delete_gen: int = 0
    deleted_count: int = 0
    # format version 3: norms parquet laid out as norms/pid=N/ so search
    # and merge tasks read their partition's blob directly (no norms
    # shuffle); doc_span/build_id fields.
    version: int = 3

    def __post_init__(self):
        if self.version < 3:
            raise ValueError(
                f"index {self.index_dir} is format v{self.version}; this "
                "release reads only v3 indexes — rebuild it")

    # --- paths -------------------------------------------------------------
    @property
    def docs_path(self) -> str:
        return os.path.join(self.index_dir, "docs")

    @property
    def norms_path(self) -> str:
        return os.path.join(self.index_dir, "norms")

    @property
    def stats_path(self) -> str:
        return os.path.join(self.index_dir, "stats")

    @property
    def postings_path(self) -> str:
        return os.path.join(self.index_dir, "postings")

    @property
    def deletes_path(self) -> str:
        """Current delete-vector generation dir (meaningful only when
        ``delete_gen > 0``)."""
        return os.path.join(self.index_dir, "deletes",
                            f"gen={self.delete_gen}")

    def chunk_path(self, chunk: int) -> str:
        return os.path.join(self.postings_path, f"chunk={chunk}")

    def chunk_marker(self, chunk: int) -> str:
        return os.path.join(self.index_dir, f"_CHUNK_{chunk}_DONE")

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.index_dir, "manifest.json")

    @property
    def span(self) -> int:
        """Doc-id span (max doc_id + 1).  Equals ``doc_count`` for fresh
        (dense-id) builds; larger for merged indexes whose id space has
        partition-round-up gaps."""
        return self.doc_span or self.doc_count

    @property
    def avgdl(self) -> float:
        """float64 avgdl; cast at use site per scoring precision
        (BM25Similarity.java:108-111)."""
        return self.sum_total_term_freq / float(self.doc_count)

    # --- persistence ---------------------------------------------------------
    def save(self) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    @classmethod
    def load(cls, index_dir: str) -> "IndexManifest":
        with open(os.path.join(index_dir, "manifest.json")) as f:
            data = json.load(f)
        data["index_dir"] = index_dir
        return cls(**data)


def resolve_manifests(index, default_field: str = ""
                      ) -> tuple[dict, str]:
    """Normalize every index-argument shape the multi-surface entry
    points accept — one manifest, an index-dir path, or a
    ``{field: manifest|path}`` dict — to ``(manifests, default_field)``.
    Shared by every multi-field surface so the field-resolution rules
    can never diverge.  Fields must share ``num_partitions``: pid N of
    every field then holds the same doc subset, the co-location that
    per-partition composition needs (``ValueError`` otherwise)."""
    if isinstance(index, dict):
        manifests = {f: (IndexManifest.load(m) if isinstance(m, str)
                         else m) for f, m in index.items()}
        parts = {f: m.num_partitions for f, m in manifests.items()}
        if len(set(parts.values())) > 1:
            raise ValueError(f"fields disagree on num_partitions {parts}; "
                             "per-partition composition needs one shared "
                             "pid space")
        if default_field not in manifests:
            default_field = next(iter(manifests))
        return manifests, default_field
    m = IndexManifest.load(index) if isinstance(index, str) else index
    return {default_field: m}, default_field
