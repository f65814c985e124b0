"""Engine settings — analog of the reference's AppSettings.

Reference: osu.ElasticIndexer/AppSettings.cs:20-45 (env-driven settings:
SCHEMA, BATCH_SIZE=10000, BUFFER_SIZE=5, prefix, backoff). We keep the same
knobs where they still mean something under Spark, and add the knobs Spark
needs (shuffle partitions, posting-block size, skew salting thresholds).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_int(name: str, default: int) -> int:
    v = os.environ.get(name)
    return int(v) if v else default


@dataclass(frozen=True)
class Settings:
    # --- reference-parity knobs -------------------------------------------
    # AppSettings.cs:20,45 — index schema version string; the physical index
    # is named "{prefix}{alias}_{schema}" (OsuElasticClient.cs:91).
    schema: str = field(default_factory=lambda: os.environ.get("SCHEMA", "1"))
    prefix: str = field(default_factory=lambda: os.environ.get("ES_INDEX_PREFIX", ""))
    alias: str = field(default_factory=lambda: os.environ.get("ES_INDEX_ALIAS", "documents"))
    # AppSettings.cs:39 — items per bulk request; here: informational only
    # (the driver commit route's row bound is the module constant
    # streaming/incremental.DRIVER_BATCH_ROWS, of the same value).
    batch_size: int = field(default_factory=lambda: _env_int("BATCH_SIZE", 10_000))
    # AppSettings.cs:34 — in-flight batches; here: informational only (Spark
    # bounds in-flight work by task slots).
    buffer_size: int = field(default_factory=lambda: _env_int("BUFFER_SIZE", 5))

    # --- BM25 constants (BASELINE.json north_star) ------------------------
    bm25_k1: float = 1.2
    bm25_b: float = 0.75

    # --- Spark-scale knobs -------------------------------------------------
    shuffle_partitions: int = field(
        default_factory=lambda: _env_int("SPARK_GRAFT_CPUS", 32)
    )
    # docs per posting block (block-max granularity, Lucene uses 128)
    block_size: int = 128
    # a term whose document frequency exceeds this fraction of docs is a
    # "head" term and gets salted across `head_salts` reducers at merge time
    head_df_ratio: float = 0.01
    head_salts: int = 8
    # minimum df for head treatment regardless of ratio (avoid salting at toy scale)
    head_df_min: int = 1_000

    @property
    def index_name(self) -> str:
        # OsuElasticClient.cs:91 — $"{AliasName}_{schema}"
        return f"{self.prefix}{self.alias}_{self.schema}"


DEFAULT = Settings()
