"""PySpark-native analytics engine with the query/data-processing
capabilities of ychuangab/TXF-Continuous-Data-Pipeline.

The reference (/root/reference/main.py, 597 lines of pandas) builds
back-adjusted continuous futures bars: 1-min OHLCV -> 5/60-min tumbling
windows -> day/night session split -> settlement-interval back-adjust ->
quality gates -> idempotent append. This package re-expresses every one of
those operators Spark-first (DataFrame/SQL, Catalyst-optimizable, no Python
UDFs on the hot path) and adds the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis) the testdata's
documents/embeddings tables exercise.

Layout (see SURVEY.md section 7):
    session.py            SparkSession factory
    sources/              parquet readers, incremental append sink
    functions/            pure column-expression helpers (session labels,
                          calendar math, time-of-day)
    operators/            resample, sessions, adjust, calendar, quality,
                          relational, dedup, similarity, textstats,
                          multimodal
    plans/                end-to-end pipeline composition
    queries/              driver-contract registry + DuckDB oracles;
                          registry.artifact is the one per-corpus session
                          store (keyed by corpus_key, superseded entries
                          released) and registry.scratch_dir the one
                          per-app scratch root (removed at exit)
    streaming/            Structured Streaming variant (watermark +
                          foreachBatch idempotent sink)
"""

import os as _os

# Default numpy's transparent-hugepage madvise OFF for this process and
# every child (the JVM gateway and, through it, every pooled Python
# worker inherit the environment). On long-lived hosts with fragmented
# memory, each madvise(MADV_HUGEPAGE) on a fresh numpy buffer can stall
# in synchronous kernel compaction: measured on this box as 55% system
# time inside pure-userspace numpy, np.stack of 164 MB taking 0.07-6.6 s
# bimodally with hugepages vs a stable 0.12-0.15 s without (r14 A/B,
# OPTIMIZATION_r14.md). The engine's Arrow-batch workloads allocate many
# small/medium arrays where the TLB win can never repay a multi-second
# compaction stall. Deliberately setdefault, not overwrite: deployments
# whose kernels handle THP well re-enable it with
# NUMPY_MADVISE_HUGEPAGE=1 in the environment.
_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

__version__ = "0.1.0"
