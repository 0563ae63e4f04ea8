"""Structured-Streaming surface: the continuously-running forms of the
engine's operators (SURVEY §2.1, §2.4, §2.5).

Batch forms (operators/) are the oracle-checkable semantics; these are
the same semantics over unbounded input with checkpointed state, on
public Structured Streaming APIs only. The append-mode keyed-state
operators are pure per-key steps that ``keyed.keyed_fold`` folds with
one grouping rule: keys pack into ``keyed.STATE_BUCKETS`` state buckets
(a constant, so a checkpoint restarts at any shuffle width), and a
bucket's Arrow chunks join before any step orders its rows. The
``keyed`` module docstring names the twelve operators and why
``sketches`` and ``delay`` keep their own ``applyInPandasWithState``.
Checkpoints the folded operators wrote with one state row per key
(event-time scd2: with a bucket-count argument) do not restart: start
those queries from a new checkpoint.
"""
