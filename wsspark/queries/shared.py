"""What the ``llm`` and ``streamq`` query modules both use: the
snapstore-result pin and the LLM-query parameters. ``llm`` builds its
registry from ``streamq`` at import, so ``streamq`` takes these from here
rather than from ``llm`` — either module then imports first."""

from __future__ import annotations

from pyspark.sql import functions as F

CHUNK_SIZE = 200
CHUNK_OVERLAP = 50
NGRAM_DUP_N = 5
BLOOM_BITS = 1 << 20
BLOOM_K = 4

# The snapstore driver queries must outlive their tempdir store, so they
# materialize the result to the driver before deleting it. That is safe
# only while the result stays oracle-gate-sized — cap it so an sf bump
# can never silently turn the pattern into a fact-sized driver collect.
# A query whose result provably scales with its input (q_mv_refresh_cdf)
# passes its own bound instead.
SNAPSTORE_RESULT_CAP = 1_000_000


def _pin_cap_guard(out, cap: int):
    """Per-partition row-position guard (LocalLimit semantics as a pure
    JVM expression): keep only the first ``cap + 1`` rows of EACH
    partition. ``monotonically_increasing_id`` is ``partition_id << 33 |
    row_in_partition``, so its low 33 bits are the 0-based position
    within the partition — no shuffle, no extra pass. Any result with
    <= cap TOTAL rows necessarily has <= cap rows per partition, so the
    guard passes it through bit-identical; an oversized result is
    truncated at (cap+1) rows per partition BEFORE materialization, and
    the truncated count still provably exceeds ``cap`` (either some
    partition was cut at cap+1 > cap, or nothing was cut and the full
    count rides through), so the overflow check below fires exactly when
    the unguarded one would — it just no longer pays to materialize the
    whole oversized result first."""
    row_pos = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    return out.where(row_pos <= F.lit(cap))


def _pin_result(out, cap: int | None = None):
    """Materialize a result that must outlive its backing tempdir store
    WITHOUT a driver round-trip (r16 optimization): an eager
    ``localCheckpoint`` pins the computed partitions in the block store
    and truncates lineage, so the source files can be deleted while the
    frame stays readable, and no row passes through the driver. The
    row-count ceiling is a count over the already-materialized blocks
    (one cheap job), and the pin itself runs under a per-partition
    ``cap + 1`` row guard (``_pin_cap_guard``), so an sf bump raises
    loudly after pinning at most (cap+1) x n_partitions rows instead of
    first materializing the full oversized result. Cluster caveat,
    stated: localCheckpoint blocks die with their executor — acceptable
    for these oracle-gate-sized results (the failure mode is a recompute
    error, never a wrong answer)."""
    cap = SNAPSTORE_RESULT_CAP if cap is None else cap
    pinned = _pin_cap_guard(out, cap).localCheckpoint(eager=True)
    if pinned.count() > cap:
        raise ValueError(
            f"snapstore driver query result exceeds the {cap}-row "
            "materialization cap — rescope the query or stream the result"
        )
    return pinned
