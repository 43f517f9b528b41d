"""Racy commit-protocol model checking (hypothesis): every pair of
commit verbs (outer O1, interleaved O2) raced at the CAS seam.

The sequential model checker (test_manifest_model.py) proves any
SEQUENCE of verbs keeps snapshot == model; this one proves the
CONCURRENCY contract: O2 commits fully between O1's read/stage and O1's
first manifest CAS attempt (the exact window optimistic concurrency
exists for), and then either

- O1 completes via rebase, and the final lake equals the SERIALIZED
  order O2-then-O1 (with O1's content computed from its pre-race read —
  which is precisely why overlapping writers must NOT rebase), or
- O1 raises MergeConflictError, and the lake shows O2 alone — no
  partial O1 state, no torn commit.

The legality matrix is asserted exactly (a spurious conflict on
disjoint partitions is a liveness bug; a rebase across an overlapping
commit is a lost-update/lost-delete bug — the r11 merge-vs-DV fix is
row `("merge", "dv")` here), and committed DV deletes must never
resurrect in any outcome.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import etl_pdf_pipepline_spark.sources.manifest as M

DAYS = ["2024-03-01", "2024-03-02"]

# (kind, day_idx, keep_mod) — optimize ignores the operands.
OP = st.one_of(
    st.tuples(st.just("merge"), st.integers(0, 1), st.integers(0, 1)),
    st.tuples(st.just("append"), st.integers(0, 1), st.just(0)),
    st.tuples(st.just("dv"), st.integers(0, 1), st.integers(0, 1)),
    st.tuples(st.just("optimize"), st.just(0), st.just(0)),
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, d) for i, d in rows], "event_id long, event_date string"
    )


def _touched(op, model):
    kind, di, _ = op
    if kind == "optimize":
        return set(model)  # compacts every live partition
    return {DAYS[di]}


def _apply(spark, root, op, next_id):
    """Execute op against the lake. Mirrors test_manifest_model's verbs."""
    kind, di, keep = op
    day = DAYS[di]
    snap_ids = _model_of(spark, root)
    if kind == "merge":
        kept = sorted(i for i in snap_ids.get(day, set()) if i % 2 == keep)
        M.merge_commit(
            _df(spark, [(i, day) for i in kept]),
            root,
            "event_date",
            changed_partitions=[day],
        )
    elif kind == "append":
        M.append_commit(_df(spark, [(next_id, day)]), root, "event_date")
    elif kind == "dv":
        dead = sorted(i for i in snap_ids.get(day, set()) if i % 2 == keep)
        M.delete_commit(
            spark, root, _df(spark, [(i, day) for i in dead]), "event_id"
        )
    else:
        M.optimize_commit(spark, root)


def _model_apply(model, op, next_id, pre):
    """Expected effect of op on the day->ids model. `pre` is the state
    the op's read was computed from (the race window's whole point)."""
    kind, di, keep = op
    day = DAYS[di]
    out = {d: set(ids) for d, ids in model.items()}
    if kind == "merge":
        kept = {i for i in pre.get(day, set()) if i % 2 == keep}
        if kept:
            out[day] = kept
        else:
            out.pop(day, None)
    elif kind == "append":
        out.setdefault(day, set()).add(next_id)
    elif kind == "dv":
        dead = {i for i in pre.get(day, set()) if i % 2 == keep}
        out[day] = out.get(day, set()) - dead
        if not out[day]:
            out.pop(day, None)
    return out


def _model_of(spark, root):
    got: dict[str, set[int]] = {}
    for r in M.read_snapshot(spark, root).collect():
        got.setdefault(r.event_date, set()).add(r.event_id)
    return got


def _expect_completes(o1, o2, model0):
    """The legality matrix: does O1 rebase over O2, or conflict?"""
    k1, k2 = o1[0], o2[0]
    overlap = bool(_touched(o1, model0) & _touched(o2, model0))
    if k1 == "append":
        return True  # appends commute; rebase by construction
    if k1 == "dv":
        # stale row locations only if O2 REWROTE a masked file
        return not (k2 in ("merge", "optimize") and overlap)
    # k1 rewrites partitions (merge/optimize): any overlapping
    # row-changing O2 (incl. a DV masking a touched partition) conflicts
    return not overlap


@settings(
    max_examples=16,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(o1=OP, o2=OP)
def test_race_pairs_serialize_or_conflict(spark, tmp_path_factory, o1, o2):
    root = str(tmp_path_factory.mktemp("race") / "lake")
    model0 = {DAYS[0]: {1, 2, 11, 12}, DAYS[1]: {3, 4, 13}}
    M.init_versioned_lake(
        _df(spark, [(i, d) for d, ids in model0.items() for i in sorted(ids)]),
        root,
        "event_date",
    )

    real = M._commit_manifest
    state = {"fired": False}

    def racy(root_, manifest, base_version=None):
        if not state["fired"]:
            state["fired"] = True  # before running O2: nested commits pass through
            _apply(spark, root_, o2, next_id=200)
        return real(root_, manifest, base_version=base_version)

    M._commit_manifest = racy
    try:
        try:
            _apply(spark, root, o1, next_id=100)
            completed = True
        except M.MergeConflictError:
            completed = False
    finally:
        M._commit_manifest = real

    # optimize/no-op DVs commit nothing and cannot race: delete_commit of
    # zero victims returns before any CAS, so O2 never fires. Detect via
    # the flag and fall back to sequential expectations.
    raced = state["fired"]

    after_o2 = _model_apply(model0, o2, 200, pre=model0) if raced else model0
    if completed:
        expect = _model_apply(after_o2, o1, 100, pre=model0)
    else:
        expect = after_o2

    got = _model_of(spark, root)
    assert got == expect, f"o1={o1} o2={o2} raced={raced} completed={completed}"

    if raced:
        assert completed == _expect_completes(o1, o2, model0), (
            f"o1={o1} o2={o2}: expected "
            f"{'rebase' if _expect_completes(o1, o2, model0) else 'conflict'}, "
            f"got {'rebase' if completed else 'conflict'}"
        )
        # committed deletes never resurrect
        if o2[0] == "dv":
            dead = {
                i
                for i in model0.get(DAYS[o2[1]], set())
                if i % 2 == o2[2]
            }
            assert not (dead & got.get(DAYS[o2[1]], set()))

    # metadata-served counts agree with the masked read in every outcome
    served = M.partition_row_counts(spark, root)
    assert served == {d: len(ids) for d, ids in got.items()}


@pytest.mark.parametrize(
    "o1,o2",
    [
        (("merge", 0, 1), ("dv", 0, 0)),       # r11 fix: lost-delete direction
        (("dv", 0, 0), ("merge", 0, 1)),       # stale-locations direction
        (("dv", 0, 0), ("optimize", 0, 0)),    # optimize rewrites masked file
        (("merge", 0, 1), ("merge", 0, 0)),    # classic overlap
        (("merge", 0, 1), ("merge", 1, 0)),    # disjoint: must rebase
        (("merge", 0, 1), ("append", 0, 0)),   # append into merged partition
        (("merge", 0, 1), ("dv", 1, 0)),       # DV elsewhere: carried, rebased
        (("dv", 0, 0), ("dv", 0, 1)),          # two DVs: both masks land
        (("dv", 0, 0), ("append", 0, 0)),      # append never rewrites masks
        (("append", 0, 0), ("optimize", 0, 0)),  # append over compaction
        (("optimize", 0, 0), ("dv", 0, 0)),    # compaction vs interleaved DV
    ],
)
def test_race_matrix_directed_cells(spark, tmp_path_factory, o1, o2):
    """The hand-picked legality-matrix cells every round must keep
    covered regardless of which examples derandomized hypothesis lands
    on — the two r11-fix directions first."""
    test_race_pairs_serialize_or_conflict.hypothesis.inner_test(
        spark, tmp_path_factory, o1, o2
    )


# ---------------------------------------------------------------------------
# r12 (VERDICT r11 ask #8): the signature-manifest seam raced against
# ingest. ensure_{minhash,simhash}_signatures is serve-or-build around a
# CAS meta record; the correctness contract under concurrency is that the
# published record may UNDER-claim freshness (forcing a rebuild) but must
# never OVER-claim it — i.e. after an ingest lands anywhere inside
# ensure's window (between its source-signature read and its meta
# commit), signatures_servable must be False for the post-ingest corpus,
# and the next ensure must rebuild and re-claim.
# ---------------------------------------------------------------------------


def _touch_docs(corpus: str) -> None:
    import os

    p = os.path.join(corpus, "documents.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_mtime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))


@pytest.fixture()
def sig_corpus(tmp_path_factory):
    import os
    import shutil

    src = "/root/testdata/sf0.001"
    dst = tmp_path_factory.mktemp("sig_corpus")
    shutil.copy(os.path.join(src, "documents.parquet"), dst / "documents.parquet")
    return str(dst)


@pytest.mark.parametrize("family", ["minhash", "simhash"])
@pytest.mark.parametrize("ingest_at", ["after_sig_read", "before_meta_commit"])
def test_signature_ensure_raced_by_ingest_never_overclaims(
    spark, sig_corpus, monkeypatch, family, ingest_at
):
    import shutil

    import etl_pdf_pipepline_spark.operators.dedup as D
    import etl_pdf_pipepline_spark.sources.manifest as MM

    ensure = (
        D.ensure_minhash_signatures if family == "minhash" else D.ensure_simhash_signatures
    )
    path = D.signature_manifest_path(sig_corpus, family)
    try:
        fired = {"n": 0}
        if ingest_at == "after_sig_read":
            # The ingest commits immediately after ensure reads the source
            # signature (the widest window: build + commit both run against
            # a corpus that has already moved on).
            real_sig = D._docs_signature

            def racing_sig(sf_dir):
                s = real_sig(sf_dir)
                if fired["n"] == 0:
                    fired["n"] = 1
                    _touch_docs(sig_corpus)
                return s

            monkeypatch.setattr(D, "_docs_signature", racing_sig)
        else:
            # The ingest commits between the data write and the meta CAS —
            # the last instant it can land inside the window. ensure
            # re-imports commit_meta from the manifest module per call, so
            # patching the module attribute intercepts it.
            real_commit = MM.commit_meta

            def racing_commit(root, payload):
                if fired["n"] == 0:
                    fired["n"] = 1
                    _touch_docs(sig_corpus)
                return real_commit(root, payload)

            monkeypatch.setattr(MM, "commit_meta", racing_commit)

        ensure(spark, sig_corpus)
        assert fired["n"] == 1, "race window never exercised"
        # The record must describe the PRE-ingest corpus: no over-claim.
        assert not D.signatures_servable(spark, sig_corpus, family)

        # Recovery: with the ingest settled, the next ensure rebuilds and
        # the record claims exactly the current corpus.
        monkeypatch.undo()
        ensure(spark, sig_corpus)
        assert D.signatures_servable(spark, sig_corpus, family)
    finally:
        shutil.rmtree(path, ignore_errors=True)

