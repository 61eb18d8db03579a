"""Every leg of scripts/scale_smoke.py runs once at a tiny size on the
test session, so the one scale smoke cannot rot."""
import os

SCRIPTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "scripts")
N = 2_000

# the keys SCALE.md's core-scaling table reports
CORE_SCALING_LEGS = {
    "bm25/build+write", "bm25/append 5k", "bm25/serve 200q", "bm25/compact",
    "lsh/build+write", "lsh/append 5k", "lsh/probe 2k", "lsh/compact",
    "ivfpq/build+write", "ivfpq/append 5k", "ivfpq/serve 10q",
    "ivfpq/compact", "simhash/signatures", "simhash/build+write",
    "simhash/probe 2k", "mprofile/10x sf0.1 events",
}


def test_every_scale_smoke_leg_runs(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    import scale_smoke

    # mprofile reads the events table of $SPARK_GRAFT_SF_DIR
    scale_smoke.make_events(spark, N, users=30) \
        .write.parquet(str(tmp_path / "events.parquet"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    legs = set()
    for family, steps in scale_smoke.FAMILIES.items():
        for step in steps(spark, N, str(tmp_path / family)):
            step.run()
            if step.leg:
                legs.add(f"{family}/{step.leg}")
    assert {k.split("/")[0] for k in legs} == set(scale_smoke.FAMILIES)
    assert CORE_SCALING_LEGS <= legs

    # --legs selection: the build the serve reads runs untimed, and only
    # the selected leg is recorded
    out = {}
    scale_smoke.run_family(spark, "pq", N, ["pq/serve*"], out)
    assert list(out) == ["pq/serve 10q"] and out["pq/serve 10q"] >= 0
