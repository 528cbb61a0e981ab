"""bytefreq_spark — PySpark-native mask-profiling + transcript quality-filter engine.

A from-scratch re-imagination of minkymorgan/bytefreq (mask-based data
profiling) as an idiomatic PySpark engine, extended into the language-ID +
quality-filter + PII-scrub pipeline described by BASELINE.json's north rule.
See SURVEY.md for the blueprint and file:line parity citations.
"""

from . import _worker

__version__ = "0.1.0"

_worker.install()  # once per process; see _worker for the per-task costs it spares
