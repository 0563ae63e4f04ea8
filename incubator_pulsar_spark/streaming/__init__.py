"""Structured-Streaming surface: the continuously-running forms of the
engine's operators (SURVEY §2.1, §2.4, §2.5).

Batch forms (operators/) are the oracle-checkable semantics; these are
the same semantics expressed over unbounded input with checkpointed
state. Everything here uses public Structured Streaming APIs only:
file-source streams, watermarks, ``applyInPandasWithState``,
``foreachBatch``. The keyed-state operators of ``behavior``,
``interval`` and ``scd2`` are pure per-key steps; ``keyed.keyed_fold``
owns their ``applyInPandasWithState`` plumbing once, with one grouping
rule: keys pack into ``keyed.STATE_BUCKETS`` state buckets (a constant,
so a checkpoint restarts at any shuffle width), and state rows and
Arrow groups per micro-batch count buckets, not keys. Checkpoints of
these operators written before they all bucketed (markov, retention,
twap, entropy, interval and publish-order scd2 kept one state row per
key; event-time scd2 took its bucket count as an argument) do not
restart: start those queries from a new checkpoint.
"""
