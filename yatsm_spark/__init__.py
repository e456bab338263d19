"""yatsm_spark — a PySpark-native time-series rollup + downsample + retention engine.

Recasts the query/data-processing capabilities of the reference package
``ceholden/yatsm`` (per-pixel CCDC time-series change detection over Landsat
stacks) as per-conversation turn-rate analytics over tables of multi-turn
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``:

- gap-filled 1m/1h/1d tumbling rollups (``operators.rollup``, ``operators.cascade``)
- CCDC-style harmonic-fit change scores / segments (``kernel.ccdc`` via
  ``operators.changescore``)
- compressed chunks: delta-of-delta timestamps and bit-packed int64
  measures (``kernel.gorilla_vec`` via ``operators.codec``)
- retention-tier eviction driven by cascade high-watermarks
  (``operators.retention``)
- per-partition checkpoint / lineage / resume (``checkpoint``)

Everything relational is stock Spark DataFrame API (Catalyst optimizes);
everything sequential/stateful lives in pure-numpy kernels under
``yatsm_spark.kernel``, run per series through one Arrow-vectorized
grouped-map boundary (``operators.series.per_series``).
No RDDs, no per-row Python UDFs.
"""

__version__ = "0.1.0"
