"""Operator library.

CANONICAL PERSIST POLICY (ADVICE r19 — the single home for the
rationale the per-site comments reference):

Multi-consumer intermediates inside operators use LAZY ``persist()``
and never call ``unpersist()``. Why:

- The operators return LAZY DataFrames; there is no safe point to
  unpersist inside the operator (the consumer has not executed yet) and
  none after (the operator has returned). Spark's ContextCleaner
  reclaims the cached blocks once the returned DataFrame — and with it
  the cached plan — is dereferenced by the caller; in a long-lived
  session running many queries this is bounded in practice by driver GC
  cadence.
- ``Dataset.persist()`` defaults to MEMORY_AND_DISK, so storage
  pressure degrades to disk spill + LRU eviction, never to OOM: an
  evicted block is recomputed from lineage on next read. The full
  206-query oracle sweep runs green in ONE session under this policy
  (measured every round since r19), which is the sweep-style caller the
  policy must serve.
- Lazy persist beats eager ``localCheckpoint(eager=True)`` for these
  intermediates (r19 A/B, ~35% on winnow): the first consumer populates
  the cache in-flight instead of waiting on a dedicated
  materialization job. Eager local checkpoints remain correct for
  ITERATIVE loops that must also cut lineage; since r20 those use
  ``localCheckpoint(eager=False)`` where a convergence count is the
  iteration's first action anyway (dedup_llm.dup_labels).
"""
