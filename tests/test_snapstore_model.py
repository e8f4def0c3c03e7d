"""Model-based stateful test of the snapshot store: hypothesis drives a
random sequence of appends / overwrites / evolutions / compactions /
merges / predicate deletes / dv-deletes / updates / restores / WAP
stage-publish-abort / named refs / CHECK constraints / vacuums against a
driver-side Python model (rows + schema + constraint per version, a
retained-version set, a ref map), asserting after every step that the
real store's retained versions, metadata counts, refs, constraint
gating, and CURRENT content match the model exactly.

This is the invariant class example-based tests can't cover: the table
format's guarantees must hold under ARBITRARY interleavings — vacuum
must never break a ref'd or dv-carrying version, constraints must
survive every maintenance/DML/restore path and gate every
data-introducing commit, staged data must stay invisible until
published (and die cleanly when vacuum collects it first). Step and
example counts are bounded because every commit is a real Spark write
(~0.5 s); ``derandomize=True`` keeps the run deterministic in CI while
still exploring dozens of interleavings.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from unittest import mock

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
)

from wsspark import snapstore as ss


def _mk_df(spark, triples, with_note):
    """triples = [(id, val, note)]; note column only written when
    with_note (mirroring the schema the store holds at that point)."""
    if with_note:
        return spark.createDataFrame(
            [(i, v, n) for i, v, n in triples], "id long, val long, note string"
        )
    return spark.createDataFrame(
        [(i, v) for i, v, _ in triples], "id long, val long"
    )


class SnapstoreMachine(RuleBasedStateMachine):
    spark = None  # injected by the test wrapper

    @initialize()
    def setup(self):
        self.root = tempfile.mkdtemp(prefix="snapmodel-")
        self.next_id = 0
        # model: version -> (triples, has_note, has_constraint, has_cdf).
        # Triples carry note=None for rows written before the store
        # evolved.
        self.versions: list[tuple[list, bool, bool, bool]] = []
        self.alive: set[int] = set()  # versions whose manifest survives
        self.refs: dict[str, int] = {}
        # change-feed validity: the earliest version from which
        # snap_read_changes_cdf can replay to CURRENT (None = no valid
        # span: feed never enabled, or a lineage reset broke it)
        self.feed_from: int | None = None
        # pending WAP stages: staged_id -> (triples, has_note, maybe_dead)
        self.staged: dict[str, tuple[list, bool, bool]] = {}

    def teardown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def _fresh(self, n, noted):
        t = [
            (
                self.next_id + i,
                (self.next_id + i) * 2,
                f"n{self.next_id + i}" if noted else None,
            )
            for i in range(n)
        ]
        self.next_id += n
        return t

    def _cur(self):
        return self.versions[-1] if self.versions else ([], False, False, False)

    def _push(self, rows, has_note, has_constraint, has_cdf):
        self.versions.append((rows, has_note, has_constraint, has_cdf))
        self.alive.add(len(self.versions) - 1)

    # ---- plain commit surface -------------------------------------

    @rule(n=st.integers(min_value=0, max_value=7))
    def append(self, n):
        cur_rows, has_note, chk, cdf = self._cur()
        new = self._fresh(n, noted=has_note)
        v = ss.snap_commit(
            _mk_df(self.spark, new, has_note), self.root, mode="append"
        )
        assert v == len(self.versions)
        self._push(cur_rows + new, has_note, chk, cdf)

    @rule(n=st.integers(min_value=0, max_value=7))
    def overwrite(self, n):
        new = self._fresh(n, noted=False)
        v = ss.snap_commit(
            _mk_df(self.spark, new, False), self.root, mode="overwrite"
        )
        assert v == len(self.versions)
        # an explicit user overwrite is a new shape: constraints AND the
        # cdf flag drop, and the change-feed span breaks (lineage reset)
        self._push(new, False, False, False)
        self.feed_from = None

    @precondition(lambda self: self.versions and not self._cur()[1])
    @rule(n=st.integers(min_value=1, max_value=4))
    def evolve_append(self, n):
        cur_rows, _, chk, cdf = self._cur()
        new = self._fresh(n, noted=True)
        v = ss.snap_commit(
            _mk_df(self.spark, new, True),
            self.root,
            mode="append",
            evolve=True,
        )
        assert v == len(self.versions)
        self._push(cur_rows + new, True, chk, cdf)

    # ---- maintenance ------------------------------------------------

    @precondition(lambda self: self.versions)
    @rule()
    def compact(self):
        v = ss.snap_compact(self.spark, self.root, target_file_mb=1)
        assert v == len(self.versions)
        # maintenance rewrites preserve rows, schema AND constraints
        self._push(*self._cur())

    @precondition(lambda self: self.versions and not self.staged)
    @rule()
    def relocate(self):
        """r15: MOVE the whole store root mid-sequence (mv/cp/remount).
        Every subsequent rule and every invariant then runs against the
        relocated store — reads, counts, feeds, DML, vacuum, refs must
        all hold, in ANY interleaving with prior DVs/CDF/sidecar chains.
        Pending WAP stages are the documented non-surviving state, so
        the rule preconditions them away (a staged publish after a move
        fails loudly by design, never silently wrong)."""
        new_root = tempfile.mkdtemp(prefix="snapmodel-moved-")
        os.rmdir(new_root)
        shutil.move(self.root, new_root)
        self.root = new_root

    @precondition(lambda self: self.versions)
    @rule()
    def auto_optimize(self):
        """Measure-then-maintain: either a no-op (manifest-only report)
        or a content-preserving clustered rewrite — whichever the layout
        report decides, the data, constraints, cdf flag, and change-feed
        span must survive it."""
        out = ss.snap_auto_optimize(
            self.spark, self.root, cluster_by=["id"], target_file_mb=1
        )
        if out["action"] == "noop":
            assert out["version"] is None
            assert ss.snap_current_version(self.root) == len(self.versions) - 1
        else:
            assert out["version"] == len(self.versions)
            self._push(*self._cur())

    # ---- row-level DML ----------------------------------------------

    @precondition(lambda self: self.versions)
    @rule(
        upd=st.integers(min_value=0, max_value=3),
        ins=st.integers(min_value=0, max_value=3),
    )
    def merge_upsert(self, upd, ins):
        """COW MERGE: replace the first `upd` current rows (val+1000,
        note kept) and insert `ins` fresh rows — model mirrors the
        update+insert clause routing exactly."""
        cur_rows, has_note, chk, cdf = self._cur()
        upd_rows = [(i, v + 1000, n) for i, v, n in cur_rows[:upd]]
        ins_rows = self._fresh(ins, noted=has_note)
        src = upd_rows + ins_rows
        v = ss.snap_merge(
            self.spark,
            self.root,
            _mk_df(self.spark, src, has_note),
            on=["id"],
        )
        assert v == len(self.versions)
        upd_ids = {i for i, _, _ in upd_rows}
        self._push(
            [r for r in cur_rows if r[0] not in upd_ids] + src,
            has_note,
            chk,
            cdf,
        )

    @precondition(lambda self: self.versions)
    @rule(modk=st.integers(min_value=2, max_value=5))
    def delete_where(self, modk):
        v = ss.snap_delete_where(self.spark, self.root, f"id % {modk} = 0")
        assert v == len(self.versions)
        cur_rows, has_note, chk, cdf = self._cur()
        self._push(
            [r for r in cur_rows if r[0] % modk != 0], has_note, chk, cdf
        )

    @precondition(lambda self: self.versions)
    @rule(modk=st.integers(min_value=2, max_value=5))
    def delete_dv(self, modk):
        """Merge-on-read DELETE: same visible semantics as delete_where,
        but the version carries deletion vectors every later read,
        rewrite, restore, and vacuum must honor."""
        v = ss.snap_delete_dv(self.spark, self.root, f"id % {modk} = 1")
        assert v == len(self.versions)
        cur_rows, has_note, chk, cdf = self._cur()
        self._push(
            [r for r in cur_rows if r[0] % modk != 1], has_note, chk, cdf
        )

    @precondition(lambda self: self.versions)
    @rule(modk=st.integers(min_value=2, max_value=4))
    def update_where(self, modk):
        """COW UPDATE ... SET val = val + 7 on id % modk = 0 — rewrites
        only touched files, consolidates dv sidecars (the interleaving
        that resurrects deleted rows when consolidation mismatches)."""
        v = ss.snap_update_where(
            self.spark, self.root, f"id % {modk} = 0", {"val": "val + 7"}
        )
        assert v == len(self.versions)
        cur_rows, has_note, chk, cdf = self._cur()
        self._push(
            [
                (i, vl + 7 if i % modk == 0 else vl, n)
                for i, vl, n in cur_rows
            ],
            has_note,
            chk,
            cdf,
        )

    @precondition(
        lambda self: self.versions and self._cur()[3] and not self._cur()[1]
    )
    @rule(modk=st.integers(min_value=2, max_value=4))
    def evolve_dml_inside_cdf_span(self, modk):
        """The epoch-crossing change-feed shape, FORCED into the state
        space (r13 verdict task): with the feed ON and the schema not
        yet evolved, an add-column evolution lands INSIDE the live
        span, then a COW update and a dv-delete cross the epoch
        boundary. The replay + span-concatenation invariants then prove
        the coalesced read's schema-epoch grouping and NULL padding
        survive whatever interleaving surrounds this burst."""
        cur_rows, _, chk, cdf = self._cur()
        new = self._fresh(2, noted=True)
        v = ss.snap_commit(
            _mk_df(self.spark, new, True),
            self.root,
            mode="append",
            evolve=True,
        )
        assert v == len(self.versions)
        self._push(cur_rows + new, True, chk, cdf)
        v = ss.snap_update_where(
            self.spark, self.root, f"id % {modk} = 0", {"val": "val + 11"}
        )
        assert v == len(self.versions)
        cur_rows, has_note, chk, cdf = self._cur()
        self._push(
            [
                (i, vl + 11 if i % modk == 0 else vl, n)
                for i, vl, n in cur_rows
            ],
            has_note,
            chk,
            cdf,
        )
        v = ss.snap_delete_dv(self.spark, self.root, f"id % {modk} = 1")
        assert v == len(self.versions)
        cur_rows, has_note, chk, cdf = self._cur()
        self._push(
            [r for r in cur_rows if r[0] % modk != 1], has_note, chk, cdf
        )

    @precondition(lambda self: self.versions)
    @rule(back=st.integers(min_value=0, max_value=8), n=st.integers(0, 4))
    def overwrite_where(self, back, n):
        """replaceWhere: atomically swap the id >= K region for n fresh
        rows (fresh ids are monotone, so they always satisfy the
        predicate). Exercises pruned-COW carryover, dv consolidation,
        the CDF delete+insert sidecar, and the constraint gate in one
        commit."""
        cur_rows, has_note, chk, cdf = self._cur()
        k = max(0, self.next_id - back)
        new = self._fresh(n, noted=has_note)
        v = ss.snap_overwrite_where(
            self.spark,
            self.root,
            f"id >= {k}",
            _mk_df(self.spark, new, has_note),
        )
        assert v == len(self.versions)
        self._push(
            [r for r in cur_rows if r[0] < k] + new, has_note, chk, cdf
        )

    @precondition(lambda self: self.versions)
    @rule()
    def clone_probe(self):
        """SHALLOW CLONE equivalence + write isolation from ANY store
        state the machine can reach (dv-carrying, constrained,
        post-restore, post-WAP...): the clone must read the model rows
        exactly, and DML on the clone must not change the source (the
        step invariants re-verify every retained source version)."""
        dst = tempfile.mkdtemp(prefix="snapclonemdl-")
        try:
            ss.snap_clone(self.root, dst)
            rows, has_note, chk, _ = self._cur()
            got = ss.snap_read(self.spark, dst).collect()
            if has_note:
                have = sorted((r.id, r.val, r.note) for r in got)
                want = sorted(rows)
            else:
                have = sorted((r.id, r.val) for r in got)
                want = sorted((i, v) for i, v, _ in rows)
            assert have == want, ("clone != source snapshot", have[:5], want[:5])
            # constraint transfer: a violating append on the CLONE refuses
            if chk:
                bad = [(10**9, -1, "bad" if has_note else None)]
                with pytest.raises(ss.ConstraintViolation):
                    ss.snap_commit(
                        _mk_df(self.spark, bad, has_note), dst, mode="append"
                    )
            # clone-side COW DML: the source invariants re-check after
            ss.snap_delete_where(self.spark, dst, "id % 2 = 0")
            kept = [r for r in rows if r[0] % 2 != 0]
            assert ss.snap_count(dst) == len(kept)
        finally:
            shutil.rmtree(dst, ignore_errors=True)

    # ---- restore ------------------------------------------------------

    @precondition(lambda self: self.versions)
    @rule(back=st.integers(min_value=0, max_value=6))
    def restore(self, back):
        """RESTORE to a still-retained version: the rollback republishes
        that version's files, dv sidecars AND constraints as a new
        commit."""
        candidates = sorted(self.alive)
        to_v = candidates[max(0, len(candidates) - 1 - back)]
        v = ss.snap_restore(self.root, to_v)
        assert v == len(self.versions)
        self._push(*self.versions[to_v])
        # the restore commit is a lineage reset; if the restored-to
        # version carried the flag, the feed resumes AFTER the restore
        self.feed_from = v if self.versions[to_v][3] else None

    # ---- CHECK constraints ---------------------------------------------

    @precondition(lambda self: self.versions and not self._cur()[2])
    @rule()
    def add_constraint(self):
        """Adding the CHECK succeeds as a metadata commit with identical
        rows — unless a surviving violating_append row makes EXISTING
        data violate it, in which case ADD must refuse up front (a
        constraint the table already violates must not gate only future
        writers) and publish nothing."""
        rows, has_note, _, cdf = self._cur()
        if any(v < 0 for _, v, _ in rows):
            with pytest.raises(ss.ConstraintViolation):
                ss.snap_add_constraint(
                    self.spark, self.root, "val_nonneg", "val >= 0"
                )
            assert ss.snap_current_version(self.root) == len(self.versions) - 1
            return
        v = ss.snap_add_constraint(
            self.spark, self.root, "val_nonneg", "val >= 0"
        )
        assert v == len(self.versions)
        self._push(rows, has_note, True, cdf)

    @precondition(lambda self: self.versions and self._cur()[2])
    @rule()
    def drop_constraint(self):
        v = ss.snap_drop_constraint(self.root, "val_nonneg")
        assert v == len(self.versions)
        rows, has_note, _, cdf = self._cur()
        self._push(rows, has_note, False, cdf)

    @precondition(lambda self: self.versions)
    @rule()
    def violating_append(self):
        """An append with val = -1: refused (and versionless) exactly
        when the current version carries the constraint — whatever path
        (compact/restore/dv/update/merge) produced that version."""
        cur_rows, has_note, chk, cdf = self._cur()
        bad = [(self.next_id, -1, "bad" if has_note else None)]
        self.next_id += 1
        if chk:
            with pytest.raises(ss.ConstraintViolation):
                ss.snap_commit(
                    _mk_df(self.spark, bad, has_note),
                    self.root,
                    mode="append",
                )
            assert ss.snap_current_version(self.root) == len(self.versions) - 1
        else:
            v = ss.snap_commit(
                _mk_df(self.spark, bad, has_note), self.root, mode="append"
            )
            assert v == len(self.versions)
            self._push(cur_rows + bad, has_note, False, cdf)

    # ---- change data feed -------------------------------------------

    @precondition(lambda self: self.versions and not self._cur()[3])
    @rule()
    def enable_cdf(self):
        v = ss.snap_enable_cdf(self.root)
        assert v == len(self.versions)
        rows, has_note, chk, _ = self._cur()
        self._push(rows, has_note, chk, True)
        self.feed_from = v

    @precondition(lambda self: self.versions and self._cur()[3])
    @rule()
    def disable_cdf(self):
        v = ss.snap_disable_cdf(self.root)
        assert v == len(self.versions)
        rows, has_note, chk, _ = self._cur()
        self._push(rows, has_note, chk, False)
        self.feed_from = None  # later DML has no sidecar: span invalid

    # ---- WAP staging ----------------------------------------------------

    @precondition(lambda self: len(self.staged) < 2)
    @rule(n=st.integers(min_value=1, max_value=4))
    def stage(self, n):
        """WAP phase 1: staged data must be INVISIBLE — no version
        advance, no content change (the step invariant re-checks)."""
        _, has_note, _, _ = self._cur()
        new = self._fresh(n, noted=has_note)
        before = ss.snap_current_version(self.root)
        sid = ss.snap_stage(_mk_df(self.spark, new, has_note), self.root)
        assert ss.snap_current_version(self.root) == before
        self.staged[sid] = (new, has_note, False)

    @precondition(lambda self: self.staged and self.versions)
    @rule()
    def publish_staged(self):
        """WAP phase 3. If a vacuum ran since the stage (grace 0 collects
        staged dirs), publish must fail RETRYABLY with the staged data
        never half-visible — a crash-interleaving the example tests
        hand-pick, explored here under arbitrary orderings."""
        sid, (new, has_note, maybe_dead) = next(iter(self.staged.items()))
        del self.staged[sid]
        cur_rows, cur_note, chk, cdf = self._cur()
        if has_note != cur_note:
            # schema moved under the stage (overwrite/evolve since):
            # publish must refuse on the schema gate, store unchanged
            with pytest.raises(ValueError):
                ss.snap_publish_staged(self.root, sid, mode="append")
            ss.snap_abort_staged(self.root, sid)
            return
        try:
            v = ss.snap_publish_staged(self.root, sid, mode="append")
        except ss.StagedCommitVacuumed:
            assert maybe_dead, "staged files vanished without a vacuum"
            assert ss.snap_current_version(self.root) == len(self.versions) - 1
            return
        assert v == len(self.versions)
        self._push(cur_rows + new, has_note, chk, cdf)

    @precondition(lambda self: self.staged)
    @rule()
    def abort_staged(self):
        sid, _ = next(iter(self.staged.items()))
        del self.staged[sid]
        before = ss.snap_current_version(self.root)
        ss.snap_abort_staged(self.root, sid)
        assert ss.snap_current_version(self.root) == before

    # ---- named refs ------------------------------------------------------

    @precondition(lambda self: self.versions)
    @rule(name=st.sampled_from(["prod", "audit"]), back=st.integers(0, 4))
    def set_ref(self, name, back):
        candidates = sorted(self.alive)
        v = candidates[max(0, len(candidates) - 1 - back)]
        ss.snap_set_ref(self.root, name, v)
        self.refs[name] = v

    @precondition(lambda self: self.refs)
    @rule()
    def delete_ref(self):
        name = sorted(self.refs)[0]
        ss.snap_delete_ref(self.root, name)
        del self.refs[name]

    # ---- vacuum -----------------------------------------------------------

    @precondition(lambda self: len(self.versions) > 2)
    @rule(keep=st.integers(min_value=1, max_value=2))
    def vacuum(self, keep):
        """grace 0: staged dirs are collectable IMMEDIATELY — the
        adversarial interleaving for pending WAP stages — while ref'd
        and last-keep versions (dv sidecars included) must survive."""
        ss.snap_vacuum(self.root, keep_last=keep, staged_grace_minutes=0)
        self._vacuum_model(keep)

    def _vacuum_model(self, keep):
        floor = len(self.versions) - keep
        self.alive = {
            v
            for v in self.alive
            if v >= floor or v in set(self.refs.values())
        }
        self.staged = {
            sid: (rows, has_note, True)
            for sid, (rows, has_note, _) in self.staged.items()
        }

    @precondition(lambda self: len(self.versions) > 2)
    @rule(keep=st.integers(min_value=1, max_value=2))
    def vacuum_with_cdf_retention(self, keep):
        """r14 knob safety: an IN-WINDOW ``cdf_keep_hours`` (every
        test-time commit is seconds old, the window is 1000 h) must
        collect NO change-feed sidecar — the replay,
        span-concatenation, and retained-files-exist invariants keep
        holding through it in any interleaving. The over-collection
        direction (window passed -> sidecars go, span reads raise the
        documented error) is pinned by the example test."""
        ss.snap_vacuum(
            self.root,
            keep_last=keep,
            staged_grace_minutes=0,
            cdf_keep_hours=1000.0,
        )
        self._vacuum_model(keep)

    @precondition(lambda self: self.versions)
    @rule(
        keep=st.integers(min_value=1, max_value=2),
        hours=st.sampled_from([None, 1.0]),
    )
    def vacuum_dry_run(self, keep, hours):
        """DRY RUN must be a pure COUNT: same planning, zero deletion —
        versions, manifests, data/dv/cdf sidecars, and pending staged
        dirs all untouched (staged entries stay publishable)."""
        before_versions = set(ss.snap_versions(self.root))
        counted = ss.snap_vacuum(
            self.root,
            keep_last=keep,
            staged_grace_minutes=0,
            keep_hours=hours,
            dry_run=True,
        )
        assert counted >= 0
        assert set(ss.snap_versions(self.root)) == before_versions
        for v in sorted(self.alive):
            m = ss._read_manifest(self.root, v)
            for f in (
                list(m["files"])
                + list(m.get("dv_files") or [])
                + list(m.get("cdf_files") or [])
            ):
                assert os.path.exists(f), ("dry_run deleted", v, f)

    @precondition(lambda self: self.versions and self._cur()[0])
    @rule(family=st.sampled_from(["stats", "bloom"]))
    def analyze(self, family):
        """ANALYZE retrofit: a metadata-only commit that adds per-file
        stats/blooms over RESIDENT files — content identical (the step
        invariants re-verify rows and feed replay across it), version
        advances by one, and a mismatched bloom geometry REFUSES without
        advancing anything."""
        if family == "stats":
            v = ss.snap_analyze(self.spark, self.root, stats_cols=["id"])
        else:
            v = ss.snap_analyze(
                self.spark, self.root, bloom_cols=["val"], bloom_bits=1 << 10
            )
        assert v == len(self.versions)
        rows, has_note, chk, cdf = self._cur()
        self._push(rows, has_note, chk, cdf)
        m = ss._read_manifest(self.root, v)
        if family == "bloom":
            # geometry gate: resizing a filter must refuse, version pinned
            with pytest.raises(ValueError):
                ss.snap_analyze(
                    self.spark, self.root, bloom_cols=["val"], bloom_bits=1 << 12
                )
            assert ss.snap_current_version(self.root) == v
            # empty part-files produce no aggregation rows: profiled
            # entries are a subset of files, non-empty (rows exist)
            blooms = m.get("file_blooms", {})
            assert blooms and set(blooms) <= set(m["files"])
        else:
            stats = m.get("file_stats", {})
            assert stats and set(stats) <= set(m["files"])

    @precondition(lambda self: self.versions)
    @rule(keep=st.integers(min_value=1, max_value=2))
    def vacuum_time_window(self, keep):
        """keep_hours is purely ADDITIVE retention: every version this
        machine committed is seconds old, so a 1-hour window must keep
        the whole retained set alive regardless of keep_last."""
        before = set(ss.snap_versions(self.root))
        ss.snap_vacuum(
            self.root, keep_last=keep, staged_grace_minutes=0, keep_hours=1.0
        )
        assert set(ss.snap_versions(self.root)) == before
        self.staged = {
            sid: (rows, has_note, True)
            for sid, (rows, has_note, _) in self.staged.items()
        }

    # ---- invariants ---------------------------------------------------------

    @invariant()
    def retained_versions_match_model(self):
        assert set(ss.snap_versions(self.root)) == self.alive
        for version in sorted(self.alive):
            rows, has_note, _, _ = self.versions[version]
            got = ss.snap_read(self.spark, self.root, version).collect()
            if has_note:
                have = sorted((r.id, r.val, r.note) for r in got)
                want = sorted(rows)
            else:
                have = sorted((r.id, r.val) for r in got)
                want = sorted((i, v) for i, v, _ in rows)
            assert have == want, (version, have[:5], want[:5])
            assert ss.snap_count(self.root, version) == len(rows)
        if self.versions:
            assert ss.snap_current_version(self.root) == len(self.versions) - 1

    @invariant()
    def change_feed_replays_to_current(self):
        """Whenever a valid feed span exists (CDF on, no lineage reset
        or disable since, span manifests retained), replaying
        snap_read_changes_cdf onto the span-start snapshot must
        reconstruct CURRENT exactly — across ANY interleaving of
        appends, COW/DV DML, metadata commits, compactions, WAP
        publishes, and vacuums."""
        lo = self.feed_from
        if lo is None or not self.versions:
            return
        if any(v not in self.alive for v in range(lo, len(self.versions))):
            return  # vacuum collected part of the span: no feed read
        feed = ss.snap_read_changes_cdf(self.spark, self.root, lo).collect()
        base_rows, _, _, _ = self.versions[lo]
        state = {i: (v, n) for i, v, n in base_rows}
        order = {"update_preimage": 0, "delete": 0}
        for r in sorted(
            feed,
            key=lambda r: (r._commit_version, order.get(r._change_type, 1)),
        ):
            note = r.note if "note" in feed[0].asDict() else None
            if r._change_type in ("insert", "update_postimage"):
                state[r.id] = (r.val, note)
            elif r._change_type == "delete":
                assert r.id in state, ("feed deletes a missing row", r)
                del state[r.id]
        cur_rows, has_note, _, _ = self._cur()
        want = {i: (v, n if has_note else None) for i, v, n in cur_rows}
        assert state == want, (lo, len(self.versions) - 1)

    @invariant()
    def span_equals_concatenation_under_evolution(self):
        """A whole-span ``snap_read_changes_cdf(lo)`` must equal the
        concatenation of its per-version sub-spans even when an
        add-column evolution landed INSIDE the span: the coalesced read
        groups file scans by schema epoch and pads pre-evolution rows
        with NULLs, and this proves the grouping + padding survive
        ARBITRARY orderings, not just the pinned example test. Paid only
        when an evolution actually sits inside a short valid span (the
        O(span) sub-reads are real Spark jobs)."""
        lo = self.feed_from
        if lo is None or not self.versions:
            return
        cur = len(self.versions) - 1
        if cur - lo > 8 or cur == lo:
            return
        if any(v not in self.alive for v in range(lo, cur + 1)):
            return
        if not (self._cur()[1] and not self.versions[lo][1]):
            return  # evolution not inside the span: replay covers it
        whole = ss.snap_read_changes_cdf(self.spark, self.root, lo).collect()
        cols = ["id", "val", "note", "_change_type", "_commit_version"]

        def norm(rows):
            return sorted(
                tuple(r.asDict().get(c) for c in cols) for r in rows
            )

        parts = []
        for v in range(lo + 1, cur + 1):
            parts.extend(
                ss.snap_read_changes_cdf(
                    self.spark, self.root, v - 1, v
                ).collect()
            )
        assert norm(whole) == norm(parts), (lo, cur)

    @invariant()
    def retained_manifest_files_all_exist(self):
        """No vacuum sequence (time-window, dry-run, grace-0, in any
        interleaving with DML/CDF/analyze/WAP) may collect a file a
        RETAINED manifest still references — data, deletion-vector, and
        change-feed sidecars alike. This is the 'every readable span's
        sidecars survive' contract: the feed-replay invariant can only
        read spans whose files this one proves alive."""
        import json as _json

        mdir = ss._manifest_dir(self.root)
        for v in sorted(self.alive):
            m = ss._read_manifest(self.root, v)
            for f in (
                list(m["files"])
                + list(m.get("dv_files") or [])
                + list(m.get("cdf_files") or [])
            ):
                assert os.path.exists(f), ("vacuumed live file", v, f)
            # r15: the DETAIL SIDECAR PARTS a retained head points at are
            # live files too — a swept shared part dangles every manifest
            # in the chain that shares it (append/restore/metadata
            # commits all share parts by name)
            with open(ss._manifest_path(self.root, v)) as fh:
                head = _json.load(fh)
            for n in ss._pointer_names(head):
                assert os.path.exists(os.path.join(mdir, n)), (
                    "vacuumed live sidecar part",
                    v,
                    n,
                )

    @invariant()
    def refs_and_constraints_match_model(self):
        assert ss.snap_refs(self.root) == self.refs
        if self.versions:
            cur = len(self.versions) - 1
            manifest_chk = ss._read_manifest(self.root, cur).get(
                "constraints", {}
            )
            assert bool(manifest_chk) == self.versions[cur][2], (
                cur,
                manifest_chk,
            )


class TestSnapstoreModel:
    def test_stateful(self, spark):
        SnapstoreMachine.spark = spark
        SnapstoreMachine.TestCase.settings = settings(
            max_examples=7,
            stateful_step_count=15,
            deadline=None,
            derandomize=True,
            suppress_health_check=list(HealthCheck),
        )
        case = SnapstoreMachine.TestCase()
        case.runTest()

    def test_stateful_multipart_chains(self, spark):
        """The same machine under FORCED multipart pressure: every
        commit is sidecar-backed with an O(1) head and
        DETAIL_PARTS_MAX=2 makes the inline compaction rung fire every
        few appends — so shared part chains are created, shared
        (restore/metadata commits), folded, and vacuumed in arbitrary
        orders while the part-files-alive invariant and every content
        check hold. This is the
        model-rule coverage for the race class the r14 review found by
        hand (test_shared_part_vanishing_mid_append_is_retryable)."""
        SnapstoreMachine.spark = spark
        SnapstoreMachine.TestCase.settings = settings(
            max_examples=4,
            stateful_step_count=14,
            deadline=None,
            derandomize=True,
            suppress_health_check=list(HealthCheck),
        )
        with mock.patch.multiple(
            ss, DETAIL_INLINE_MAX=0, FILES_INLINE_MAX=0, DETAIL_PARTS_MAX=2
        ):
            case = SnapstoreMachine.TestCase()
            case.runTest()
