"""Structured-Streaming surface: the continuously-running forms of the
engine's operators (SURVEY §2.1, §2.4, §2.5).

Batch forms (operators/) are the oracle-checkable semantics; these are
the same semantics expressed over unbounded input with checkpointed
state. Everything here uses public Structured Streaming APIs only:
file-source streams, watermarks, ``applyInPandasWithState``,
``foreachBatch``. The keyed-state operators of ``behavior``,
``interval`` and ``scd2`` are pure per-key steps; ``keyed.keyed_fold``
owns their ``applyInPandasWithState`` plumbing once.
"""
