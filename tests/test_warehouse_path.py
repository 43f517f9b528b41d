"""One location rule for every build-once artifact: each `*_path(sf_dir)`
resolves to `<repo>/spark-warehouse/{stem}_{md5(abspath(sf_dir))[:10]}`
through catalog.warehouse_path, and no other package module spells the
warehouse directory."""

from __future__ import annotations

import hashlib
import importlib
import os
import pathlib

import pytest

import etl_pdf_pipepline_spark
from etl_pdf_pipepline_spark.operators.dedup import signature_manifest_path

PACKAGE = pathlib.Path(etl_pdf_pipepline_spark.__file__).parent
REPO = PACKAGE.parent
SF = "/root/testdata/sf0.001"

ARTIFACT_PATHS = [
    ("plans.partitioned", "partitioned_events_path", "events_by_day"),
    ("plans.partitioned", "fragmented_events_path", "events_by_day_frag"),
    ("plans.partitioned", "compacted_events_path", "events_by_day_compact"),
    ("plans.partitioned", "merge_lake_path", "events_by_day_merge"),
    ("plans.partitioned", "versioned_lake_path", "events_versioned"),
    ("plans.partitioned", "stats_lake_path", "events_stats_lake"),
    ("plans.partitioned", "evo_lake_path", "events_evo_lake"),
    ("plans.partitioned", "optimize_lake_path", "events_opt_lake"),
    ("plans.partitioned", "autopilot_lake_path", "events_autopilot_lake"),
    ("plans.partitioned", "cdf_lake_path", "events_cdf"),
    ("plans.partitioned", "mor_lake_path", "events_mor"),
    ("plans.partitioned", "count_lake_path", "events_count"),
    ("plans.matview", "mv_lake_path", "events_mv_base"),
    ("plans.matview", "rollup_view_path", "events_rollup_mv"),
    ("plans.zorder", "zorder_events_path", "events_zorder"),
    ("operators.dedup", "lsh_index_path", "lsh_band_index"),
    ("operators.dedup", "docs_lake_path", "docs_lake"),
    ("operators.multimodal", "media_manifest_path", "media_manifest"),
    ("operators.similarity", "ivf_index_path", "ivf_index"),
    ("operators.similarity", "ivf_int8_path", "ivf_int8"),
    ("retrieval.queries", "_bm25_index_path", "bm25_index"),
]


def _expected(sf_dir: str, stem: str) -> str:
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return str(REPO / "spark-warehouse" / f"{stem}_{tag}")


@pytest.mark.parametrize("sf_dir", [SF, "relative/corpus"])
@pytest.mark.parametrize(("module", "fn", "stem"), ARTIFACT_PATHS, ids=[f for _, f, _ in ARTIFACT_PATHS])
def test_artifact_path_follows_the_location_rule(module, fn, stem, sf_dir):
    path_of = getattr(importlib.import_module(f"etl_pdf_pipepline_spark.{module}"), fn)
    assert path_of(sf_dir) == _expected(sf_dir, stem)


@pytest.mark.parametrize("family", ["minhash", "simhash"])
def test_signature_path_follows_the_location_rule(family):
    assert signature_manifest_path(SF, family) == _expected(SF, f"{family}_sigs")


def test_only_catalog_spells_the_warehouse_dir():
    spelling = [
        str(p.relative_to(PACKAGE))
        for p in sorted(PACKAGE.rglob("*.py"))
        if '"spark-warehouse"' in p.read_text()
    ]
    assert spelling == ["sources/catalog.py"]
