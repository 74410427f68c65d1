"""Spec-layer models: FlowGroup / Action / WriteTarget / CDC configs.

Field names and semantics mirror the reference's YAML surface so existing specs
port verbatim (reference: src/lhp/models/_action.py:65-128,
src/lhp/models/_flowgroup.py:12-21, src/lhp/models/_enums.py:6-10,
src/lhp/models/_quarantine.py:6-12; CDC validator rules
src/lhp/core/validators/compatibility/cdc_config.py:36-76). The implementation
is new: pydantic v2 models feeding an executing Spark runtime rather than a
code generator.
"""

from __future__ import annotations

from enum import Enum
from typing import Any, Callable, Optional, Union

from pydantic import BaseModel, ConfigDict, Field, field_validator, model_validator


class SpecError(ValueError):
    """A defect in user-authored spec input (YAML flowgroups, templates,
    presets, blueprints, substitutions). The CLI reports these as clean FAIL
    lines; anything else escaping the spec layer is an engine bug and
    surfaces as a traceback (ADVICE r4: `validate` must not swallow internal
    ValueErrors)."""


class ActionType(str, Enum):
    LOAD = "load"
    TRANSFORM = "transform"
    WRITE = "write"
    TEST = "test"


class TransformType(str, Enum):
    SQL = "sql"
    PYTHON = "python"
    DATA_QUALITY = "data_quality"
    SCHEMA = "schema"
    TEMP_TABLE = "temp_table"
    # engine extensions: the reference expresses everything users run as
    # actions; the extension family follows suit (llm/search.py and
    # llm/dedup.py are the executors)
    RETRIEVAL = "retrieval"
    DEDUP = "dedup"
    SAMPLE = "sample"
    KNN = "knn"
    MULTIMODAL = "multimodal"
    TEXT = "text"


class WriteTargetType(str, Enum):
    STREAMING_TABLE = "streaming_table"
    MATERIALIZED_VIEW = "materialized_view"
    SINK = "sink"


class SinkType(str, Enum):
    DELTA = "delta"
    KAFKA = "kafka"
    FOREACHBATCH = "foreachbatch"
    CUSTOM = "custom"


class TestType(str, Enum):
    ROW_COUNT = "row_count"
    UNIQUENESS = "uniqueness"
    REFERENTIAL_INTEGRITY = "referential_integrity"
    COMPLETENESS = "completeness"
    RANGE = "range"
    SCHEMA_MATCH = "schema_match"
    ALL_LOOKUPS_FOUND = "all_lookups_found"
    CUSTOM_SQL = "custom_sql"
    CUSTOM_EXPECTATIONS = "custom_expectations"


class ViolationAction(str, Enum):
    FAIL = "fail"
    WARN = "warn"
    DROP = "drop"


class CDCConfig(BaseModel):
    """AUTO CDC (apply-changes) config — SCD type 1 / 2.

    Mirrors reference cdc_config (validator
    src/lhp/core/validators/compatibility/cdc_config.py:36-76): required keys +
    sequence_by; column_list XOR except_column_list; track_history lists are
    SCD2-only and mutually exclusive.
    """

    model_config = ConfigDict(extra="forbid")

    keys: list[str]
    sequence_by: Union[str, list[str]]
    scd_type: int = 1
    ignore_null_updates: bool = False
    apply_as_deletes: Optional[str] = None
    apply_as_truncates: Optional[str] = None
    column_list: Optional[list[str]] = None
    except_column_list: Optional[list[str]] = None
    track_history_column_list: Optional[list[str]] = None
    track_history_except_column_list: Optional[list[str]] = None
    # SCD2-only: SQL expression over `__max_seq` (the newest sequence seen by
    # the merge) giving the compaction horizon, e.g. "__max_seq - 1000" or
    # "__max_seq - INTERVAL 90 DAYS". Hidden event-log rows older than it are
    # collapsed into version-boundary events, so merge input stays ∝ recent
    # history. Contract: late events must never arrive older than the horizon.
    log_compaction_horizon: Optional[str] = None

    @model_validator(mode="after")
    def _check(self) -> "CDCConfig":
        if self.scd_type not in (1, 2):
            raise ValueError("scd_type must be 1 or 2")
        if self.column_list and self.except_column_list:
            raise ValueError("column_list and except_column_list are mutually exclusive")
        if self.track_history_column_list and self.track_history_except_column_list:
            raise ValueError("track_history_* lists are mutually exclusive")
        if not self.keys:
            raise ValueError("cdc_config.keys must be non-empty")
        if self.log_compaction_horizon and self.scd_type != 2:
            raise ValueError("log_compaction_horizon applies to scd_type 2 only")
        return self

    @property
    def sequence_cols(self) -> list[str]:
        return [self.sequence_by] if isinstance(self.sequence_by, str) else list(self.sequence_by)


class SnapshotSourceFunction(BaseModel):
    model_config = ConfigDict(extra="forbid")
    file: str
    function: str
    parameters: dict[str, Any] = Field(default_factory=dict)


class SnapshotCDCConfig(BaseModel):
    """Snapshot-CDC config (reference: src/lhp/generators/write/streaming_table.py:121-141)."""

    model_config = ConfigDict(extra="forbid")

    source: Optional[str] = None
    source_function: Optional[SnapshotSourceFunction] = None
    keys: list[str]
    stored_as_scd_type: int = 1
    track_history_column_list: Optional[list[str]] = None
    track_history_except_column_list: Optional[list[str]] = None
    # engine extension: in-process callable () -> (df, version) | None
    source_callable: Optional[Callable] = Field(default=None, exclude=True)

    @model_validator(mode="after")
    def _check(self) -> "SnapshotCDCConfig":
        if not (self.source or self.source_function or self.source_callable):
            raise ValueError("snapshot_cdc_config requires source or source_function")
        if self.stored_as_scd_type not in (1, 2):
            raise ValueError("stored_as_scd_type must be 1 or 2")
        return self


class QuarantineConfig(BaseModel):
    """Quarantine/DLQ settings (reference: src/lhp/models/_quarantine.py:6-12)."""

    model_config = ConfigDict(extra="allow")

    dlq_table: str
    source_table: Optional[str] = None


class RetrievalConfig(BaseModel):
    """Engine extension: `transform_type: retrieval` — BM25 top-k over a
    document view without touching the Python API (llm/search.py).

    `plan` picks the physical strategy: "unrolled" (two column-pruned
    scans, |Q| narrow filter() expressions — the interactive keyword
    shape), "postings" (explode-prune-broadcast, |Q|-flat — the wide-query
    shape), or "auto" (default): unrolled up to the measured ≈8-term
    crossover (docs/operators.md "BM25 query width"), postings above it.
    Both plans emit identical rows and scores (exact-decimal parts), so
    the choice is purely physical.

    HYBRID fusion (r10): give `query_sets` (>= 2 term lists) instead of
    `query_terms` and the action runs one BM25 top-k per set (plan
    resolved per set) and Reciprocal-Rank-fuses them —
    score(d) = Σ 1/(k_rrf + rank_set(d)) — into one top-k.  The fusion is
    k-bounded; all corpus-sized work stays inside the per-set retrievers.
    """

    model_config = ConfigDict(extra="forbid")

    query_terms: Optional[list[str]] = None
    query_sets: Optional[list[list[str]]] = None
    k: int = 20
    k1: float = 1.2
    b: float = 0.75
    k_rrf: int = 60
    text_col: str = "text"
    id_col: str = "doc_id"
    plan: str = "auto"  # auto | unrolled | postings

    @model_validator(mode="after")
    def _terms_xor_sets(self):
        if (self.query_terms is None) == (self.query_sets is None):
            raise ValueError(
                "retrieval needs exactly one of query_terms (single ranking) "
                "or query_sets (RRF fusion)"
            )
        if self.query_terms is not None and not self.query_terms:
            raise ValueError("retrieval needs at least one query term")
        if self.query_sets is not None:
            if len(self.query_sets) < 2:
                raise ValueError("query_sets fusion needs >= 2 term lists")
            if any(not s for s in self.query_sets):
                raise ValueError("every query set needs at least one term")
        if self.k_rrf < 1:
            raise ValueError(f"k_rrf must be >= 1, got {self.k_rrf}")
        return self

    @field_validator("plan")
    @classmethod
    def _plan_known(cls, v: str) -> str:
        if v not in ("auto", "unrolled", "postings"):
            raise ValueError(f"plan must be auto|unrolled|postings, got {v!r}")
        return v

    @field_validator("k")
    @classmethod
    def _k_positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"k must be >= 1, got {v}")
        return v


class DedupConfig(BaseModel):
    """Engine extension: `transform_type: dedup` — corpus deduplication as a
    declarative action (llm/dedup.py).

    `method`:
    - "exact": survivor = min id per normalized content hash; output
      (id_col, dup_count).  One hash-partitioned aggregation.
    - "lines": RefinedWeb repeated-line removal; output (id_col, n_lines,
      n_removed, cleaned_text).
    - "minhash_survivors": MinHash-LSH candidate pairs verified at
      `jaccard_threshold`, connected-components clustering, keep the
      best-`quality_col` member per group; output the audit table
      (doc_id, cluster_id, cluster_size, kept).
    - "containment": asymmetric |A∩B|/min(|A|,|B|) shingle containment
      pairs — the excerpt/quote relation Jaccard misses; candidates from
      the shingle inverted index, `max_doc_freq` caps boilerplate grams
      (the one superlinear shape).  Output (id_a, id_b, containment,
      jaccard).
    - "embedding_lsh": embedding-cosine near-dup pairs at scale — banded
      random-hyperplane LSH candidates verified by exact cosine; needs
      `vec_col`; `max_bucket_size` is the clique guard.  Output
      (id_a, id_b, cosine).
    - "incremental": dedup the SOURCE (an arriving batch) against the
      persisted band index named by `index_table`/`grams_table`, then
      append the batch to the index — the production dedup-on-arrival
      loop; per-batch work scales with the batch, history is never
      rescanned.  Output this batch's verified (id_a, id_b, jaccard).
    - "semantic": SemDeDup — cluster embeddings (`vec_col`), retire any
      row with a lower-id near-duplicate (cosine >= `cosine_threshold`)
      inside its cluster; pair cost is per-cluster, never corpus².
      Output (id, list_id, retired).
    """

    model_config = ConfigDict(extra="forbid")

    method: str
    text_col: str = "text"
    id_col: str = "doc_id"
    jaccard_threshold: float = 0.5
    quality_col: Optional[str] = None
    max_docs: int = 1
    # containment
    containment_threshold: float = 0.8
    max_doc_freq: Optional[int] = None
    # embedding_lsh / semantic
    vec_col: str = "embedding"
    cosine_threshold: float = 0.95
    max_bucket_size: Optional[int] = None
    # embedding_lsh only: unset -> geometry auto-derived from the corpus
    # count (the scale-safe default); set -> pinned rows per band, for
    # cross-engine oracles that enumerate a fixed bands x rows geometry
    rows_per_band: Optional[int] = None
    n_centroids: int = 16
    # incremental (persisted index table names, resolved via the run store).
    # SINGLE WRITER per index: the action runs under the store's writer
    # lock — a second pipeline appending the same index concurrently
    # refuses with ConcurrentWriterError rather than silently missing
    # cross-batch pairs (see llm/dedup.py:incremental_dedup_batch).
    index_table: Optional[str] = None
    grams_table: Optional[str] = None
    # incremental only: re-running a crashed batch. With retry true the
    # call is idempotent even against a PARTIALLY committed prior append
    # (index rows a prior attempt committed for the batch's ids are masked
    # from the probes and every append is per-row anti-joined against
    # committed state); a plain re-run would double the batch's index rows
    # and duplicate pairs.
    retry: bool = False
    # incremental only: fail loudly when a band bucket crosses
    # max_bucket_size MID-STREAM (the accumulated pair set would silently
    # diverge from the one-shot minhash_lsh_dedup result — see
    # llm/dedup.py:incremental_dedup_batch). False accepts incremental
    # semantics on cap-crossing corpora.
    cap_check: bool = True

    @field_validator("method")
    @classmethod
    def _method_known(cls, v: str) -> str:
        if v not in (
            "exact", "lines", "minhash_survivors",
            "containment", "embedding_lsh", "incremental", "semantic",
        ):
            raise ValueError(
                "method must be exact|lines|minhash_survivors|containment|"
                f"embedding_lsh|incremental|semantic, got {v!r}"
            )
        return v

    @field_validator("n_centroids")
    @classmethod
    def _centroids_positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"n_centroids must be >= 1, got {v}")
        return v

    @field_validator("jaccard_threshold", "containment_threshold", "cosine_threshold")
    @classmethod
    def _thr_range(cls, v: float) -> float:
        if not 0.0 < v <= 1.0:
            raise ValueError(f"threshold must be in (0, 1], got {v}")
        return v

    @field_validator("max_doc_freq")
    @classmethod
    def _cap_positive(cls, v: Optional[int]) -> Optional[int]:
        if v is not None and v < 1:
            raise ValueError(f"cap must be >= 1, got {v}")
        return v

    @field_validator("max_bucket_size")
    @classmethod
    def _bucket_cap(cls, v: Optional[int]) -> Optional[int]:
        # uniform semantics across every dedup method (r12, ADVICE r11):
        # unset -> the method's engine default; 0 -> clique guard OFF
        # (passed down as max_bucket_size=None); n >= 1 -> cap at n
        if v is not None and v < 0:
            raise ValueError(f"max_bucket_size must be >= 0 (0 disables the "
                             f"clique guard), got {v}")
        return v

    @model_validator(mode="after")
    def _incremental_requirements(self):
        if self.method == "incremental" and not (
            self.index_table and self.grams_table
        ):
            raise ValueError(
                "dedup method 'incremental' requires index_table and "
                "grams_table (the persisted band/grams index names)"
            )
        if self.retry and self.method != "incremental":
            raise ValueError(
                "dedup: retry is only meaningful for method 'incremental' "
                "(it masks a crashed batch's partially-committed index "
                f"rows); got retry=true with method {self.method!r}"
            )
        return self


class SampleConfig(BaseModel):
    """Engine extension: `transform_type: sample` — deterministic sampling /
    data mixing as a declarative action (llm/sampling.py).

    `method`:
    - "hash_split": assign every row to a named split by hash range;
      needs `weights` ({split_name: weight}); adds `out_col`.
    - "stratified": keep each row with its stratum's rate; needs
      `strata_col` and `rates` ({stratum: rate in [0,1]}).
    - "mixture": sample strata to an integer-parts recipe; needs
      `strata_col` and `parts` ({stratum: int parts}).
    - "temperature": shares ∝ n^alpha derived from the corpus; needs
      `strata_col`; `alpha` defaults to 0.5 (the oracle-exact setting).
    - "weighted_poisson": per-ROW inclusion probability ∝
      `weight_expr` with expected fraction `target_fraction` — the
      document-level reweighting primitive (mixture reweights whole
      strata); needs `weight_expr` + `target_fraction`.
    - "sequence_pack": lay documents contiguously and cut fixed
      `seq_len`-token training sequences, one row per (sequence,
      document-fragment); needs `seq_len`; `token_col` must exist on the
      source (default n_tokens), `shards` sets the independent packing
      lanes.

    All methods are pure per-row hash filters (plus, for sequence_pack, a
    per-shard running sum) after a metadata-sized threshold computation —
    stable under re-partitioning and retries.
    """

    model_config = ConfigDict(extra="forbid")

    method: str
    id_col: str = "doc_id"
    strata_col: Optional[str] = None
    weights: Optional[dict[str, float]] = None
    rates: Optional[dict[str, float]] = None
    parts: Optional[dict[str, int]] = None
    default_rate: float = 0.0
    alpha: float = 0.5
    target_rows: Optional[int] = None
    out_col: str = "split"
    # weighted_poisson
    weight_expr: Optional[str] = None
    target_fraction: Optional[float] = None
    # sequence_pack
    seq_len: Optional[int] = None
    shards: int = 64
    token_col: str = "n_tokens"

    @field_validator("method")
    @classmethod
    def _method_known(cls, v: str) -> str:
        if v not in (
            "hash_split", "stratified", "mixture", "temperature",
            "weighted_poisson", "sequence_pack",
        ):
            raise ValueError(
                "method must be hash_split|stratified|mixture|temperature|"
                f"weighted_poisson|sequence_pack, got {v!r}"
            )
        return v

    @field_validator("target_fraction")
    @classmethod
    def _fraction_range(cls, v: Optional[float]) -> Optional[float]:
        if v is not None and not 0.0 < v <= 1.0:
            raise ValueError(f"target_fraction must be in (0, 1], got {v}")
        return v

    @field_validator("seq_len", "shards")
    @classmethod
    def _positive_int(cls, v: Optional[int]) -> Optional[int]:
        if v is not None and v < 1:
            raise ValueError(f"must be >= 1, got {v}")
        return v

    @model_validator(mode="after")
    def _method_requirements(self):
        need = {
            "hash_split": self.weights,
            "stratified": self.strata_col and self.rates,
            "mixture": self.strata_col and self.parts,
            "temperature": self.strata_col,
            "weighted_poisson": self.weight_expr and self.target_fraction,
            "sequence_pack": self.seq_len,
        }
        if not need[self.method]:
            raise ValueError(
                f"sample method {self.method!r} is missing its required "
                "fields (hash_split: weights; stratified: strata_col+rates; "
                "mixture: strata_col+parts; temperature: strata_col; "
                "weighted_poisson: weight_expr+target_fraction; "
                "sequence_pack: seq_len)"
            )
        if self.weights is not None:
            if any(w < 0 for w in self.weights.values()) or sum(self.weights.values()) <= 0:
                raise ValueError(
                    "sample weights must be non-negative with a positive sum"
                )
        if self.rates is not None and any(
            not 0.0 <= r <= 1.0 for r in self.rates.values()
        ):
            raise ValueError("sample rates must each be in [0, 1]")
        return self


class TextConfig(BaseModel):
    """Engine extension: `transform_type: text` — text curation as a
    declarative action (llm/text.py).  Every method is a narrow per-row
    projection (one tokenization / line-split, let-bound; no shuffle, no
    UDF) — a single codegen'd scan at any corpus size.

    `method`: token_count | quality_score | lang_id | pii_redact |
    c4_rules (line-level boilerplate filter; `min_words_per_line`,
    `min_kept_lines`) | gopher_rules (heuristic quality battery;
    `min_words`) | chunk (fixed overlapping token windows;
    `chunk_tokens`, `stride`).
    """

    model_config = ConfigDict(extra="forbid")

    method: str
    text_col: str = "text"
    id_col: str = "doc_id"
    min_words_per_line: int = 5
    min_kept_lines: int = 3
    min_words: int = 50
    chunk_tokens: int = 64
    stride: int = 48

    @field_validator("method")
    @classmethod
    def _method_known(cls, v: str) -> str:
        if v not in (
            "token_count", "quality_score", "lang_id", "pii_redact",
            "c4_rules", "gopher_rules", "chunk",
        ):
            raise ValueError(
                "method must be token_count|quality_score|lang_id|"
                f"pii_redact|c4_rules|gopher_rules|chunk, got {v!r}"
            )
        return v

    @field_validator(
        "min_words_per_line", "min_kept_lines", "min_words",
        "chunk_tokens", "stride",
    )
    @classmethod
    def _positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"must be >= 1, got {v}")
        return v

    @model_validator(mode="after")
    def _chunk_stride(self):
        if self.method == "chunk" and self.stride > self.chunk_tokens:
            raise ValueError(
                f"chunk needs stride <= chunk_tokens, got stride="
                f"{self.stride}, chunk_tokens={self.chunk_tokens}"
            )
        return self


class MultimodalConfig(BaseModel):
    """Engine extension: `transform_type: multimodal` — binary-asset
    processing as a declarative action (llm/multimodal.py, Arrow-batched
    mapInPandas plumbing with an import-gated decoder seam).

    `method`:
    - "features": decode -> fixed-width feature vector per asset (the
      embedding-extraction shape; `decoder` stub|pil|auto, `batch_size`).
    - "resize": decode -> resize to (width, height) -> re-encode.
    - "frame_sample": one row per (video asset, frame timestamp) every
      `every_ms` — the distributed frame work list.

    `source_format: documents` adapts a documents view to the asset
    schema first (doc text bytes as binary payloads) — the corpus-testing
    convenience; default expects an asset-shaped source (asset_id,
    modality, content, ...).
    """

    model_config = ConfigDict(extra="forbid")

    method: str
    decoder: str = "stub"
    batch_size: int = 256
    width: int = 224
    height: int = 224
    every_ms: int = 1000
    source_format: str = "assets"  # assets | documents

    @field_validator("method")
    @classmethod
    def _method_known(cls, v: str) -> str:
        if v not in ("features", "resize", "frame_sample"):
            raise ValueError(
                f"method must be features|resize|frame_sample, got {v!r}"
            )
        return v

    @field_validator("decoder")
    @classmethod
    def _decoder_known(cls, v: str) -> str:
        if v not in ("stub", "pil", "auto"):
            raise ValueError(f"decoder must be stub|pil|auto, got {v!r}")
        return v

    @field_validator("source_format")
    @classmethod
    def _format_known(cls, v: str) -> str:
        if v not in ("assets", "documents"):
            raise ValueError(f"source_format must be assets|documents, got {v!r}")
        return v

    @field_validator("batch_size", "width", "height", "every_ms")
    @classmethod
    def _positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"must be >= 1, got {v}")
        return v


class KnnConfig(BaseModel):
    """Engine extension: `transform_type: knn` — vector similarity search as
    a declarative action (llm/similarity.py), completing the extension
    quartet (retrieval / dedup / sample / knn).

    `method`:
    - "bruteforce": exact cosine top-k (the recall baseline; broadcast
      query side, per-query top-k window).
    - "filtered": exact cosine top-k restricted to `predicate` candidates
      (pre-filtering — exact recall; the predicate prunes the scan).
    - "ivfpq": IVF coarse lists + product-quantized ADC scoring — the
      memory-compression scale rung; `n_probe` trades recall for work
      (n_probe == n_centroids is exhaustive).
    """

    model_config = ConfigDict(extra="forbid")

    method: str = "bruteforce"
    query_ids: list[int]
    k: int = 3
    vec_col: str = "embedding"
    id_col: str = "vec_id"
    predicate: Optional[str] = None
    n_centroids: int = 16
    n_probe: int = 4

    @field_validator("method")
    @classmethod
    def _method_known(cls, v: str) -> str:
        if v not in ("bruteforce", "filtered", "ivfpq"):
            raise ValueError(f"method must be bruteforce|filtered|ivfpq, got {v!r}")
        return v

    @field_validator("query_ids")
    @classmethod
    def _ids_nonempty(cls, v: list[int]) -> list[int]:
        if not v:
            raise ValueError("knn needs at least one query id")
        return v

    @field_validator("k", "n_centroids", "n_probe")
    @classmethod
    def _positive(cls, v: int) -> int:
        if v < 1:
            raise ValueError(f"must be >= 1, got {v}")
        return v

    @model_validator(mode="after")
    def _filtered_needs_predicate(self):
        if self.method == "filtered" and not self.predicate:
            raise ValueError("knn method 'filtered' requires predicate")
        return self


class IncrementalConfig(BaseModel):
    """Engine extension: `refresh_policy: incremental` materialized views.

    The reference declares `refresh_policy` but delegates it
    (src/lhp/models/_action.py); this engine maintains the MV natively from a
    streaming source via mergeable partial aggregates (operators/incremental.py).
    """

    model_config = ConfigDict(extra="forbid")

    group_by: list[str]
    aggs: dict[str, str]  # alias -> "sum(expr)"|"count(*)"|"min(e)"|"max(e)"|"avg(e)"
    # non-mergeable aggregates (exact distinct, medians, percentiles):
    #   "error" (default) — reject at spec-validation time;
    #   "recompute" — accept them and maintain the MV by FULL RECOMPUTE over
    #   an engine-kept base table of the streamed rows (correctness over an
    #   error; work per refresh ∝ table, not batch — logged loudly as
    #   imv_full_recompute so the cost is visible)
    on_non_mergeable: str = "error"

    @model_validator(mode="after")
    def _check(self) -> "IncrementalConfig":
        from lakehouse_plumber_spark.operators.incremental import parse_aggs

        if not self.group_by:
            raise ValueError("incremental_config.group_by must be non-empty")
        if self.on_non_mergeable not in ("error", "recompute"):
            raise ValueError(
                "incremental_config.on_non_mergeable must be 'error' or "
                f"'recompute', got {self.on_non_mergeable!r}"
            )
        if self.on_non_mergeable == "error":
            parse_aggs(self.aggs)  # raises on non-mergeable aggregates
        else:
            # recompute mode accepts non-mergeable aggregates, but each spec
            # must still LOOK like an aggregate call — a bare/mangled
            # expression ('sum v') would otherwise sail through validation
            # and die at refresh time attributed to "non-mergeable". (A
            # typo'd FUNCTION NAME is indistinguishable from a real exotic
            # aggregate without a live catalog; that still fails at refresh
            # with Spark's unresolved-function error.)
            import re as _re

            for alias, spec in self.aggs.items():
                if not _re.match(r"^\s*\w+\s*\(.*\)\s*$", spec, _re.DOTALL):
                    raise ValueError(
                        f"incremental MV aggregate {alias}={spec!r} is not an "
                        "aggregate call of the form fn(...)"
                    )
        return self


class WriteTarget(BaseModel):
    """Write-action target (reference: src/lhp/models/_action.py:16-62)."""

    model_config = ConfigDict(extra="allow", populate_by_name=True)

    type: WriteTargetType
    catalog: Optional[str] = None
    database: Optional[str] = Field(default=None, alias="schema")
    table: Optional[str] = None
    create_table: bool = True
    mode: str = "standard"  # standard | cdc | snapshot_cdc
    cdc_config: Optional[CDCConfig] = None
    snapshot_cdc_config: Optional[SnapshotCDCConfig] = None
    partition_columns: Optional[list[str]] = None
    cluster_columns: Optional[list[str]] = None
    cluster_by_auto: bool = False
    table_properties: dict[str, Any] = Field(default_factory=dict)
    spark_conf: dict[str, Any] = Field(default_factory=dict)
    table_schema: Optional[Any] = None  # inline YAML schema dict or DDL string
    schema_file: Optional[str] = None
    # Unity Catalog tagging (reference _action.py:28-31, _uc_tagging.py):
    # inline `tags` = table tags only; `tags_file` = unified schema/tags
    # sidecar supplying BOTH table and column tags. At most one of the two.
    tags: Optional[dict[str, Optional[str]]] = None
    tags_file: Optional[str] = None
    row_filter: Optional[str] = None
    temporary: bool = False
    path: Optional[str] = None
    comment: Optional[str] = None
    # materialized view
    sql: Optional[str] = None
    sql_path: Optional[str] = None
    refresh_schedule: Optional[str] = None
    refresh_policy: Optional[str] = None
    incremental_config: Optional[IncrementalConfig] = None
    # sink
    sink_type: Optional[SinkType] = None
    bootstrap_servers: Optional[str] = None
    topic: Optional[str] = None
    options: dict[str, Any] = Field(default_factory=dict)
    batch_handler: Optional[str] = None
    batch_handler_callable: Optional[Callable] = Field(default=None, exclude=True)
    module_path: Optional[str] = None
    custom_sink_class: Optional[str] = None

    @model_validator(mode="after")
    def _tags_exclusive(self) -> "WriteTarget":
        if self.tags is not None and self.tags_file is not None:
            raise ValueError(
                "write target declares both tags and tags_file; a tags_file "
                "is the sole source of table AND column tags — drop one"
            )
        return self

    @property
    def full_name(self) -> str:
        parts = [p for p in (self.catalog, self.database, self.table) if p]
        return ".".join(parts) if parts else (self.path or "")

    @property
    def sink_table(self) -> Optional[str]:
        """The table a sink names in `options.tableName`: a delta sink with
        no path appends to it through the store, and the sandbox renames it
        as a produced table."""
        name = (self.options or {}).get("tableName") if self.type == WriteTargetType.SINK else None
        return str(name) if name else None

    def written_paths(self) -> list[str]:
        """Paths this target writes files under outside the store, as
        spelled in the spec: `path`, `options.path` and a kafka sink's
        `options.simulate_path`."""
        opts = self.options or {}
        return [str(p) for p in (self.path, opts.get("path"), opts.get("simulate_path")) if p]


class Action(BaseModel):
    """One typed pipeline step (reference: src/lhp/models/_action.py:65-128)."""

    model_config = ConfigDict(extra="allow", populate_by_name=True)

    name: str
    type: ActionType
    # chaining: source view name(s) / source config dict; target view name
    source: Optional[Union[str, list[str], dict[str, Any]]] = None
    target: Optional[str] = None
    readMode: Optional[str] = None  # batch | stream
    operational_metadata: Optional[Union[bool, list[str]]] = None
    description: Optional[str] = None
    once: bool = False
    depends_on: list[str] = Field(default_factory=list)

    # transform fields
    transform_type: Optional[TransformType] = None
    sql: Optional[str] = None
    sql_path: Optional[str] = None
    module_path: Optional[str] = None
    function_name: Optional[str] = None
    parameters: Optional[Union[dict[str, Any], list[Any]]] = None
    # engine extension: in-process callable for python transforms/loads
    callable_fn: Optional[Callable] = Field(default=None, exclude=True)

    # schema transform
    schema_inline: Optional[Any] = None
    schema_file: Optional[str] = None
    enforcement: str = "strict"  # strict | permissive

    # retrieval / dedup / sample / knn transforms (engine extensions)
    retrieval: Optional[RetrievalConfig] = None
    dedup: Optional[DedupConfig] = None
    sample: Optional[SampleConfig] = None
    knn: Optional[KnnConfig] = None
    multimodal: Optional[MultimodalConfig] = None
    text: Optional[TextConfig] = None

    # data-quality transform
    mode: Optional[str] = None  # dqe | quarantine
    expectations_file: Optional[str] = None
    expectations_inline: Optional[Any] = None
    quarantine: Optional[QuarantineConfig] = None

    # write
    write_target: Optional[WriteTarget] = None

    # test
    test_type: Optional[TestType] = None
    on_violation: ViolationAction = ViolationAction.FAIL

    @field_validator("readMode")
    @classmethod
    def _read_mode(cls, v: Optional[str]) -> Optional[str]:
        if v is not None and v not in ("batch", "stream"):
            raise ValueError(f"readMode must be batch|stream, got {v!r}")
        return v

    @property
    def sub_type(self) -> str:
        """Dispatch key: load source type / transform type / write target type / test type."""
        if self.type == ActionType.LOAD:
            if isinstance(self.source, dict):
                return str(self.source.get("type", "sql"))
            return "sql"
        if self.type == ActionType.TRANSFORM:
            return self.transform_type.value if self.transform_type else "sql"
        if self.type == ActionType.WRITE:
            return self.write_target.type.value if self.write_target else "streaming_table"
        return self.test_type.value if self.test_type else "custom_sql"

    def source_views(self) -> list[str]:
        """Upstream view names this action consumes (edges of the DAG).

        SQL text counts as consumption: an action (or a materialized view's
        ``write_target.sql``) referencing a view by name inside SQL depends
        on its producer even with no ``source:`` field — external table refs
        simply have no in-flowgroup producer and impose no constraint."""
        views: list[str] = []
        if isinstance(self.source, str):
            views.append(self.source)
        elif isinstance(self.source, list):
            views.extend(s for s in self.source if isinstance(s, str))
        elif isinstance(self.source, dict):
            for key in ("source", "view", "reference", "lookup_table"):
                v = self.source.get(key)
                if isinstance(v, str):
                    views.append(v)
            if isinstance(self.source.get("sql"), str):
                from lakehouse_plumber_spark.dag import sql_table_refs

                views.extend(sql_table_refs(self.source["sql"]))
        for sql in (self.sql, self.write_target.sql if self.write_target else None):
            if sql:
                from lakehouse_plumber_spark.dag import sql_table_refs

                views.extend(sql_table_refs(sql))
        views.extend(self.depends_on)
        return views

    def table_reads(self) -> list[str]:
        """Managed-table reads for CROSS-flowgroup scheduling only (a delta
        load of a table another flowgroup writes must run in a later stage).

        Deliberately NOT part of source_views(): inside one flowgroup a
        delta load of a table the same flowgroup writes reads the table's
        PRE-RUN content (the self-referential incremental pattern), so it
        must not create an intra-flowgroup edge — that would be a false
        cycle. Only delta sources count (a jdbc source's `table:` names an
        external RDBMS table no flowgroup produces), and the bare leaf is
        only emitted when the ref is unqualified — a fully-qualified read of
        other.sch.t must not match an unrelated writer whose leaf is `t`."""
        if not isinstance(self.source, dict) or self.source.get("type") != "delta":
            return []
        tbl = self.source.get("table")
        if not isinstance(tbl, str):
            return []
        qualifier = self.source.get("catalog") or self.source.get("database") or self.source.get("schema")
        if not qualifier:
            return [tbl]
        return [
            ".".join(
                p for p in (
                    self.source.get("catalog"),
                    self.source.get("database") or self.source.get("schema"),
                    tbl,
                ) if p
            )
        ]

    def produced_view(self) -> Optional[str]:
        """View name this action registers (node output)."""
        if self.target:
            return self.target
        if self.type == ActionType.WRITE and self.write_target is not None:
            return self.write_target.full_name or None
        return None


class ProjectConfig(BaseModel):
    """Project-level configuration from ``lhp.yaml`` (reference
    src/lhp/models/_project.py:20-45). The engine consumes the subset that
    affects execution/discovery: ``include`` globs scope flowgroup
    discovery, ``operational_metadata.columns`` declares project-wide audit
    columns, ``test_reporting`` is the project default for the post-run DQ
    hook, ``sandbox`` carries the team rename policy (``table_pattern``,
    ``allowed_envs``), and ``uc_tagging.enabled`` gates tag application.
    Unknown keys (wheel packaging, monitoring job configs, version pins)
    pass through untouched — they configure platform tooling this engine
    deliberately doesn't own."""

    model_config = ConfigDict(extra="allow")

    name: str
    version: str = "1.0"
    description: Optional[str] = None
    author: Optional[str] = None
    created_date: Optional[str] = None
    include: Optional[list[str]] = None
    blueprint_include: Optional[list[str]] = None
    operational_metadata: Optional[dict[str, Any]] = None
    test_reporting: Optional[dict[str, Any]] = None
    event_log: Optional[dict[str, Any]] = None
    sandbox: Optional[dict[str, Any]] = None
    uc_tagging: Optional[dict[str, Any]] = None
    required_lhp_version: Optional[str] = None

    def metadata_columns(self) -> dict[str, str]:
        """Project-declared audit columns as {name: sql_expression}."""
        from lakehouse_plumber_spark.metadata import project_expression

        cols = (self.operational_metadata or {}).get("columns") or {}
        out: dict[str, str] = {}
        for name, spec in cols.items():
            expr = spec.get("expression") if isinstance(spec, dict) else spec
            if expr:
                out[str(name)] = project_expression(str(expr))
        return out


class FlowGroup(BaseModel):
    """Unit of compilation (reference: src/lhp/models/_flowgroup.py:12-21)."""

    model_config = ConfigDict(extra="allow")

    pipeline: str
    flowgroup: str
    # multi-job orchestration grouping (reference _flowgroup.py:15 +
    # validators/pipeline/job_name.py): optional, all-or-nothing across the
    # project, [A-Za-z0-9_-]+ format — see dag.validate_job_names
    job_name: Optional[str] = None
    presets: list[str] = Field(default_factory=list)
    use_template: Optional[str] = None
    template_parameters: dict[str, Any] = Field(default_factory=dict)
    variables: dict[str, Any] = Field(default_factory=dict)
    operational_metadata: Optional[Union[bool, list[str]]] = None
    # post-run DQ test reporting hook config (reference lhp.yaml
    # `test_reporting:` -> templates/test_reporting/hook.py.j2): keys
    # module_path/function_name (or callable_fn in-process) + config dict
    test_reporting: Optional[dict[str, Any]] = None
    actions: list[Action] = Field(default_factory=list)
