"""Cross-run resume (G8): a rerun of the scenario engines must skip
work whose results already sit in the checkpoint directory — the
Spark-native twin of the reference's per-way S3 restart
(script-eaul/README.md:63-97)."""

from __future__ import annotations

import pytest
from test_routing_fixture import OD_NODES, TRAFFIC, edges_pdf, way_props_pdf

from moz_datapipeline_spark.graph.criticality import criticality_scores
from moz_datapipeline_spark.graph.eaul import eaul_scores

SENTINEL = 123456.789  # a value the real computation can never produce


def test_eaul_resume_skips_finished_scenarios(spark, tmp_path):
    ckpt = str(tmp_path / "eaul_ckpt")
    # simulate a prior partially-committed run: two finished scenarios
    spark.createDataFrame(
        [("2", "upgrade-rehab-asphalt", SENTINEL),
         ("5", "rehab-earth", SENTINEL)],
        "way_id string, upgrade_id string, eaul double",
    ).write.parquet(ckpt)

    out = eaul_scores(
        spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC,
        checkpoint_dir=ckpt,
    ).toPandas()

    # complete grid: 10 ways x 3 upgrades + baseline, no duplicates
    assert len(out) == 31
    assert not out.duplicated(["way_id", "upgrade_id"]).any()
    # the pre-seeded scenarios were NOT recomputed (sentinel survived)
    keyed = out.set_index(["way_id", "upgrade_id"])["eaul"]
    assert keyed[("2", "upgrade-rehab-asphalt")] == SENTINEL
    assert keyed[("5", "rehab-earth")] == SENTINEL
    # everything else is real output
    assert keyed[("2", "upgrade-rehab-gravel")] != SENTINEL
    assert keyed[("__baseline__", "baseline")] > 0

    # idempotent rerun: nothing recomputes, results identical
    again = eaul_scores(
        spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC,
        checkpoint_dir=ckpt,
    ).toPandas()
    assert len(again) == 31
    assert (
        again.set_index(["way_id", "upgrade_id"])["eaul"].sort_index()
        == keyed.sort_index()
    ).all()


def test_eaul_without_checkpoint_matches_checkpointed_fresh_run(
    spark, tmp_path
):
    ckpt = str(tmp_path / "fresh_ckpt")
    plain = eaul_scores(
        spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC
    ).toPandas().set_index(["way_id", "upgrade_id"])["eaul"].sort_index()
    ckpted = eaul_scores(
        spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC,
        checkpoint_dir=ckpt,
    ).toPandas().set_index(["way_id", "upgrade_id"])["eaul"].sort_index()
    assert (plain == ckpted).all()


def test_criticality_resume_skips_finished_ways(spark, tmp_path):
    ckpt = str(tmp_path / "crit_ckpt")
    edges = edges_pdf()[["way_id", "src", "dst", "weight"]]

    full = criticality_scores(spark, edges, OD_NODES).toPandas()
    active = full[
        (full["avg_time_nonzero"] > 0)
        | (full["impacted_pairs"] > 0)
        | (full["max_time"] > 0)
    ]["way_id"].tolist()
    assert active, "fixture must have at least one active way"
    seed_way = active[0]

    # pre-seed one finished way with sentinel stats (schema MUST match
    # _STATS_SCHEMA exactly — fan_out rejects drifted seeds)
    spark.createDataFrame(
        [(seed_way, SENTINEL, SENTINEL, SENTINEL, 0, 0)],
        "way_id string, max_time double, avg_time double, "
        "avg_time_nonzero double, unroutable_pairs long, impacted_pairs long",
    ).write.parquet(ckpt)

    out = criticality_scores(
        spark, edges, OD_NODES, checkpoint_dir=ckpt
    ).toPandas()
    assert sorted(out["way_id"]) == sorted(full["way_id"])
    assert not out.duplicated(["way_id"]).any()
    keyed = out.set_index("way_id")
    assert keyed.loc[seed_way, "max_time"] == SENTINEL  # skipped, not rerun
    others = [w for w in active if w != seed_way]
    for w in others:
        assert keyed.loc[w, "max_time"] == pytest.approx(
            full.set_index("way_id").loc[w, "max_time"]
        )


def test_resume_rejects_drifted_checkpoint_schema(spark, tmp_path):
    """A checkpoint whose schema does not match the engine's output
    must raise deterministically, never silently schema-merge."""
    ckpt = str(tmp_path / "bad_ckpt")
    spark.createDataFrame(
        [("2", "upgrade-rehab-asphalt", 1.0, "EXTRA")],
        "way_id string, upgrade_id string, eaul double, stray string",
    ).write.parquet(ckpt)
    with pytest.raises(ValueError, match="does not match result schema"):
        eaul_scores(
            spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC,
            checkpoint_dir=ckpt,
        )


def test_resume_rejects_type_drifted_checkpoint(spark, tmp_path):
    """Matching column NAMES with a drifted TYPE (eaul written as
    string) must also raise — a name-only check would let the append
    create a mixed-schema directory."""
    ckpt = str(tmp_path / "type_drift_ckpt")
    spark.createDataFrame(
        [("2", "upgrade-rehab-asphalt", "not-a-double")],
        "way_id string, upgrade_id string, eaul string",
    ).write.parquet(ckpt)
    with pytest.raises(ValueError, match="does not match result schema"):
        eaul_scores(
            spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC,
            checkpoint_dir=ckpt,
        )
