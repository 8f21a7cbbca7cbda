"""Sources/sinks facade + cloud-safe commit configuration.

The reference implements no scans/sinks of its own (SURVEY.md §2.C — it
relies on Spark's readers/writers and only contributes object-store-safe
output committers as configuration). This module exposes the same
surface PySpark-natively.

Attributes resolve lazily (PEP 562): every Python-DataSource runner
process Spark spawns for a filekafka stream unpickles the DataSource
class by module reference, which imports this package — eagerly pulling
in the avro/warc/io stacks added ~0.3 s to EVERY stream start (the
per-micro-batch fixed cost the streaming flagships pay twice each).
"""

from __future__ import annotations

_EXPORTS = {
    "read_avro": "spark_extensions_spark.sources.avro_file",
    "write_avro": "spark_extensions_spark.sources.avro_file",
    "read_wet": "spark_extensions_spark.sources.warc",
    "read_wet_strict": "spark_extensions_spark.sources.warc",
    "write_wet": "spark_extensions_spark.sources.warc",
    "cloud_committer_conf": "spark_extensions_spark.sources.io",
    "read_table": "spark_extensions_spark.sources.io",
    "overwrite_partitions": "spark_extensions_spark.sources.io",
    "write_table": "spark_extensions_spark.sources.io",
}

__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    import importlib

    return getattr(importlib.import_module(mod), name)


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
