"""Model-checked commit protocol (hypothesis): random interleavings of
append / merge / evolve / optimize / vacuum / maintain (the r9
autopilot) / dv_delete / purge (the r10 merge-on-read deletion vectors)
against a pure-Python reference model.

The manifest layer's unit tests each pin ONE property; this test pins
the composition — any sequence of the six verbs must keep the latest
snapshot exactly equal to a dict-of-days model (including the values of
a column ADDED mid-sequence: pre-evolution rows must read null through
the evolved schema, post-evolution writes must read their values, and
OPTIMIZE must preserve both), keep `rows_preserved` honest
(rows_changed_since is False across optimize-only suffixes and True the
moment an append/merge/evolve lands), and keep every surviving version
readable. Sequences are kept short and frames tiny so the whole
property run stays in seconds-per-example Spark territory.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from etl_pdf_pipepline_spark.sources.manifest import (
    append_commit,
    commit_meta,
    delete_commit,
    init_versioned_lake,
    latest_version,
    maintain_lake,
    merge_commit,
    meta_matches,
    optimize_commit,
    purge_deletes,
    read_snapshot,
    rows_changed_since,
    vacuum,
)

DAYS = ["2024-02-01", "2024-02-02", "2024-02-03"]

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_date", T.StringType()),
    ]
)

SCHEMA_EVOLVED = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_date", T.StringType()),
        T.StructField("extra", T.LongType()),
    ]
)

# An op is one of:
#   ("append", day_idx, n_rows)      — n new rows land in one day
#   ("merge", day_idx, keep_mod)     — day rewritten to rows where
#                                      event_id % 2 == keep_mod (possibly
#                                      emptying it: the delete contract)
#   ("evolve", day_idx)              — add-column merge: rewrite one day
#                                      through the WIDER schema (extra =
#                                      id*10 for its rows); every later
#                                      write is 3-col (add-only contract)
#   ("optimize",)                    — layout-only compaction
#   ("vacuum",)                      — retention to last 2 versions
#   ("maintain",)                    — the r9 autopilot (maintain_lake):
#                                      fragmented-partition detection →
#                                      scoped rows_preserved OPTIMIZE →
#                                      vacuum, composed in one pass
#                                      (threshold 1 so any multi-file
#                                      partition actually triggers the
#                                      compaction branch)
#   ("dv_delete", day_idx, keep_mod) — merge-on-read DELETE: deletion-
#                                      vector commit of the day's rows
#                                      with event_id % 2 == keep_mod;
#                                      no data file rewritten, every
#                                      later snapshot must mask the keys
#                                      (incl. across append/optimize/
#                                      evolve — the carry rules)
#   ("purge",)                       — materialize outstanding vectors
#                                      (rows_preserved rewrite of only
#                                      the masked partitions)
OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 2), st.integers(1, 3)),
        st.tuples(st.just("merge"), st.integers(0, 2), st.integers(0, 1)),
        st.tuples(st.just("evolve"), st.integers(0, 2)),
        st.tuples(st.just("optimize")),
        st.tuples(st.just("vacuum")),
        st.tuples(st.just("maintain")),
        st.tuples(st.just("dv_delete"), st.integers(0, 2), st.integers(0, 1)),
        st.tuples(st.just("purge")),
    ),
    min_size=1,
    max_size=5,
)


def _run_ops(spark, root: str, ops) -> None:
    """Drive `ops` against a fresh lake at `root` and assert the two
    invariants after every op (snapshot == model) and at the end
    (rows_preserved honesty)."""

    evolved = False

    def df(rows):
        # rows: [(id, day, extra)] — extra ignored pre-evolution
        if evolved:
            return spark.createDataFrame(rows, SCHEMA_EVOLVED)
        return spark.createDataFrame([(i, d) for i, d, _x in rows], SCHEMA)

    # model: day -> {event_id: expected extra value} (None = null; ids
    # are globally unique here, so the dict models the rows exactly)
    next_id = 100
    model: dict[str, dict[int, int | None]] = {
        DAYS[0]: {1: None, 2: None},
        DAYS[1]: {3: None},
    }
    init_versioned_lake(
        df([(i, d, None) for d, ids in model.items() for i in ids]),
        root,
        "event_date",
    )
    last_row_change_v = latest_version(root)
    batch_id = 0

    for op in ops:
        model_before = {d: dict(ids) for d, ids in model.items()}
        v_before = latest_version(root)
        if op[0] == "append":
            _, di, n = op
            day = DAYS[di]
            ids = list(range(next_id, next_id + n))
            next_id += n
            extra = {i: (i * 10 if evolved else None) for i in ids}
            append_commit(
                df([(i, day, extra[i]) for i in ids]), root, "event_date", txn=("m", batch_id)
            )
            batch_id += 1
            model.setdefault(day, {}).update(extra)
            last_row_change_v = latest_version(root)
        elif op[0] == "merge":
            _, di, keep_mod = op
            day = DAYS[di]
            kept = {i: x for i, x in model.get(day, {}).items() if i % 2 == keep_mod}
            merge_commit(
                df([(i, day, x) for i, x in kept.items()]),
                root,
                "event_date",
                changed_partitions=[day],
            )
            if kept:
                model[day] = kept
            else:
                model.pop(day, None)
            last_row_change_v = latest_version(root)
        elif op[0] == "evolve":
            _, di = op
            day = DAYS[di]
            evolved = True  # every subsequent write is 3-col (add-only)
            rewritten = {i: i * 10 for i in model.get(day, {})}
            merge_commit(
                df([(i, day, x) for i, x in rewritten.items()]),
                root,
                "event_date",
                changed_partitions=[day],
            )
            if rewritten:
                model[day] = rewritten
            # empty day: schema still evolves; the entry stays absent
            last_row_change_v = latest_version(root)
        elif op[0] == "dv_delete":
            _, di, keep_mod = op
            day = DAYS[di]
            dead = sorted(i for i in model.get(day, {}) if i % 2 == keep_mod)
            keys = spark.createDataFrame(
                [(i, day) for i in dead], "event_id long, event_date string"
            )
            delete_commit(spark, root, keys, "event_id")
            for i in dead:
                model[day].pop(i)
            if day in model and not model[day]:
                model.pop(day)
            last_row_change_v = latest_version(root)
        elif op[0] == "purge":
            purge_deletes(spark, root)
        elif op[0] == "optimize":
            optimize_commit(spark, root)
        elif op[0] == "maintain":
            report = maintain_lake(spark, root, max_files_per_partition=1)
            # the autopilot's own honesty: a compaction version only
            # when something was fragmented, never an empty commit
            assert (report["optimize_version"] is None) == (
                not report["optimized_partitions"]
            )
        else:
            vacuum(root, keep_versions=2)

        # Invariant 1: latest snapshot == model, after every single op —
        # including `extra` values once the schema evolved (pre-evolution
        # rows project null; OPTIMIZE must carry both through).
        got: dict[str, dict[int, int | None]] = {}
        snap = read_snapshot(spark, root)
        has_extra = "extra" in snap.columns
        assert has_extra == evolved, f"after {op}: schema width wrong"
        for r in snap.collect():
            got.setdefault(r.event_date, {})[r.event_id] = (
                r.extra if has_extra else None
            )
        assert got == model, f"after {op}: {got} != {model}"

        # Invariant 1b: the metadata-served per-partition counts (footer
        # row records minus outstanding DV masks, zero data files opened)
        # must equal the model after EVERY verb — this is what makes
        # events_count_served trustworthy under arbitrary append/merge/
        # evolve/optimize/dv/purge/vacuum/maintain interleavings.
        from etl_pdf_pipepline_spark.sources.manifest import partition_row_counts

        served = partition_row_counts(spark, root)
        assert served == {d: len(ids) for d, ids in model.items()}, (
            f"after {op}: metadata counts {served} != model sizes"
        )

        # Invariant 1c (r11): the decoupled-daemon hand-off must never
        # MISS a row change — every partition whose model rows this op
        # changed must appear in changed_partitions_between across the
        # op's committed versions (this is what catches the DV-delete
        # blind spot: a delete_commit changes rows with an unchanged
        # file list, so only the DV-aware diff reports it). Skipped when
        # the op committed nothing or vacuumed the old manifest away.
        from etl_pdf_pipepline_spark.sources.manifest import (
            changed_partitions_between,
        )

        v_now = latest_version(root)
        if v_now > v_before and _manifest_exists(root, v_before):
            row_changed = {
                d
                for d in set(model_before) | set(model)
                if model_before.get(d) != model.get(d)
            }
            reported = set(changed_partitions_between(root, v_before, v_now))
            assert row_changed <= reported, (
                f"after {op}: rows changed in {sorted(row_changed - reported)} "
                f"but the CDF hand-off reported only {sorted(reported)}"
            )

    # Invariant 2: rows_preserved honesty — nothing after the last
    # row-changing commit changed rows (any suffix is optimize-only;
    # vacuum commits no version), unless vacuum erased the evidence,
    # in which case the conservative answer True is also correct.
    latest = latest_version(root)
    if not rows_changed_since(root, last_row_change_v):
        pass  # optimize-only suffix, manifests intact: fresh is correct
    else:
        # only acceptable when part of the chain was vacuumed away
        missing = any(
            not _manifest_exists(root, v)
            for v in range(last_row_change_v + 1, latest + 1)
        )
        assert missing, "rows_changed_since=True with full chain and no row changes"
    # And anything SINCE latest is trivially unchanged.
    assert not rows_changed_since(root, latest)


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=OPS)
def test_commit_protocol_matches_model(spark, tmp_path_factory, ops):
    _run_ops(spark, str(tmp_path_factory.mktemp("model") / "lake"), ops)


def test_optimize_evolution_vacuum_interleaving(spark, tmp_path_factory):
    """The directed interleaving VERDICT r8 asked to guarantee coverage
    of (derandomized hypothesis examples may not hit it): evolve a day,
    OPTIMIZE the whole lake (rewrites pre-evolution rows through the
    evolved schema — nulls must survive), append post-evolution rows,
    vacuum history, then merge — snapshot must track the model at every
    step."""
    _run_ops(
        spark,
        str(tmp_path_factory.mktemp("directed") / "lake"),
        [
            ("evolve", 0),
            ("optimize",),
            ("append", 1, 2),
            ("vacuum",),
            ("merge", 0, 1),
            ("optimize",),
        ],
    )


def test_autopilot_interleaved_with_ingest(spark, tmp_path_factory):
    """The directed schedule VERDICT r9 asked to guarantee coverage of:
    an autopilot pass between ingest commits is exactly the production
    hazard (maintenance racing fresh appends/merges/evolutions must
    neither lose rows, resurrect deleted ones, nor strip the evolved
    column). Fragment a day with appends, maintain, evolve, maintain
    (rewrites evolved + pre-evolution rows), append more, maintain
    again after a merge delete, with a vacuum mixed in."""
    _run_ops(
        spark,
        str(tmp_path_factory.mktemp("autopilot") / "lake"),
        [
            ("append", 0, 2),
            ("maintain",),
            ("evolve", 0),
            ("maintain",),
            ("append", 1, 3),
            ("vacuum",),
            ("merge", 0, 0),
            ("maintain",),
        ],
    )


def test_deletion_vectors_interleaved_with_lifecycle(spark, tmp_path_factory):
    """Directed DV schedule (derandomized hypothesis may not hit the
    full chain): DV-delete, append beside it (carry rule), maintain
    (compaction materializes the masks it rewrites), evolve the masked
    day, a second DV delete THROUGH the evolved schema, purge, vacuum,
    then a plain merge — the snapshot must equal the model after every
    op, proving the masks neither resurrect rows nor leak tombstones
    across any maintenance verb."""
    _run_ops(
        spark,
        str(tmp_path_factory.mktemp("dv") / "lake"),
        [
            ("dv_delete", 0, 1),
            ("append", 0, 3),
            ("maintain",),
            ("evolve", 0),
            ("dv_delete", 0, 0),
            ("purge",),
            ("vacuum",),
            ("merge", 0, 0),
        ],
    )


def _manifest_exists(root: str, v: int) -> bool:
    import os

    return os.path.exists(os.path.join(root, "_manifests", f"v{v:08d}.json"))


def test_dv_optimize_cdf_triple_interleaving(spark, tmp_path_factory):
    """Directed DV x OPTIMIZE x CDF schedule (VERDICT r10 #8): deletion
    vectors committed before/after OPTIMIZE passes, a purge in between,
    and more DVs after — with the per-op invariants asserting snapshot ==
    model, metadata counts == model, AND the CDF hand-off reporting every
    row-changed partition (including the file-list-invariant DV commits)
    at every step."""
    _run_ops(
        spark,
        str(tmp_path_factory.mktemp("dvcdf") / "lake"),
        [
            ("dv_delete", 0, 1),
            ("optimize",),
            ("dv_delete", 1, 1),
            ("append", 0, 2),
            ("maintain",),
            ("purge",),
            ("optimize",),
            ("dv_delete", 0, 0),
        ],
    )


def test_meta_matches_needs_every_expected_key_present_and_equal(tmp_path):
    """The one freshness test of the build-once artifacts: the latest
    meta record must carry every expected key, present and equal."""
    root = str(tmp_path / "artifact")
    assert not meta_matches(root)  # no record
    assert not meta_matches(root, source_signature="s1")
    commit_meta(root, {"source_signature": "s1", "n": 3})
    assert meta_matches(root)
    assert meta_matches(root, source_signature="s1")  # extra keys ignored
    assert meta_matches(root, source_signature="s1", n=3)
    # absent keys never match, not even when expected as None or False
    assert not meta_matches(root, source_signature="s1", exclude_vec_id=None)
    assert not meta_matches(root, source_signature="s1", partial=False)
    assert not meta_matches(root, source_signature="s2")  # wrong value
    assert not meta_matches(root, source_signature="s1", n=4)
    commit_meta(root, {"source_signature": "s2", "exclude_vec_id": None, "partial": False})
    assert not meta_matches(root, source_signature="s1")  # only the latest record counts
    assert meta_matches(root, source_signature="s2", exclude_vec_id=None, partial=False)
