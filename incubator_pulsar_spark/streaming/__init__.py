"""Structured-Streaming surface: the continuously-running forms of the
engine's operators (SURVEY §2.1, §2.4, §2.5).

Batch forms (operators/) are the oracle-checkable semantics; these are
the same semantics over unbounded input with checkpointed state, on
public Structured Streaming APIs only. The append-mode keyed-state
operators (``behavior``, ``interval``, ``scd2``, the count windows of
``windows``, ``dedup``, ``gapfill``) are pure per-key steps that
``keyed.keyed_fold`` folds with one grouping rule: keys pack into
``keyed.STATE_BUCKETS`` state buckets (a constant, so a checkpoint
restarts at any shuffle width), and a bucket's Arrow chunks join before
any step orders its rows. ``sketches`` (update mode) and ``delay``
(processing-time timeout, ``state.remove()``) keep their own
``applyInPandasWithState``: ``keyed_fold`` is append-only and has
neither. Checkpoints the folded operators wrote with one state row per
key (event-time scd2: with a bucket-count argument) do not restart:
start those queries from a new checkpoint.
"""
