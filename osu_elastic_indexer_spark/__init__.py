"""PySpark-native full-text indexing + BM25 retrieval engine.

A from-scratch re-expression of the capabilities of ppy/osu-elastic-indexer
(reference snapshot at /root/reference, read-only): the reference pumps MySQL
rows into Elasticsearch through a Redis queue; this package replaces both
halves with an idiomatic PySpark engine:

* build side: SPIMI-style per-partition posting-list construction in
  Arrow-vectorized pandas UDFs -> salted sort-merge shuffle on term_id ->
  globally merged, delta-gap varbyte compressed posting lists with per-block
  max-score metadata (see ``operators.build``).
* query side: Okapi BM25 (k1=1.2, b=0.75) block-max WAND top-k
  (see ``operators.search``), rank-identical to a pure-python oracle
  (``oracle``) and to a brute-force DataFrame scorer.
* lifecycle: versioned indexes + atomic alias swap, cursor/resume
  checkpoints, per-partition lineage + counters
  (see ``sources.catalog``, ``streaming.incremental``) mirroring the
  reference's CDC semantics (osu.ElasticIndexer/ScoreIndexer.cs,
  IndexQueueProcessor.cs, Commands/Queue/PumpAllScoresCommand.cs).
"""

from ._zipcache import install as _install_zipcache

__version__ = "0.1.0"

_install_zipcache()
