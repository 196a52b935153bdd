"""bench.py's in-run calibration gate (r14): the timed passes must not
start until the host-speed probe reads quiet TWICE IN A ROW, and a
persistently-loaded host must still terminate with the gate marked
failed (the driver needs an artifact either way)."""

import bench


def _scripted(seq):
    it = iter(seq)

    def probe(_spark):
        return next(it)

    return probe


def test_gate_waits_for_two_consecutive_quiet_probes(monkeypatch):
    monkeypatch.setattr(bench, "GATE_SLEEP_SEC", 0.0)
    monkeypatch.setattr(bench, "GATE_THRESHOLD", 0.18)
    monkeypatch.setattr(bench, "GATE_MAX_WAIT_SEC", 60.0)
    # a single quiet trough between bursts must NOT open the gate
    monkeypatch.setattr(
        bench, "_calibration_sec", _scripted([0.31, 0.10, 0.29, 0.15, 0.12])
    )
    last, attempts, passed = bench._calibration_gate(spark=None)
    assert passed is True
    assert attempts == [0.31, 0.10, 0.29, 0.15, 0.12]
    assert last == 0.12


def test_gate_gives_up_after_the_wait_budget(monkeypatch):
    monkeypatch.setattr(bench, "GATE_SLEEP_SEC", 0.0)
    monkeypatch.setattr(bench, "GATE_THRESHOLD", 0.18)
    monkeypatch.setattr(bench, "GATE_MAX_WAIT_SEC", 0.0)  # expire at once
    monkeypatch.setattr(bench, "_calibration_sec", _scripted([0.40, 0.39]))
    last, attempts, passed = bench._calibration_gate(spark=None)
    assert passed is False
    assert attempts == [0.40]  # budget spent: one probe, then the artifact
    assert last == 0.40


def test_gate_opens_immediately_on_a_quiet_host(monkeypatch):
    monkeypatch.setattr(bench, "GATE_SLEEP_SEC", 0.0)
    monkeypatch.setattr(bench, "GATE_THRESHOLD", 0.18)
    monkeypatch.setattr(bench, "GATE_MAX_WAIT_SEC", 60.0)
    monkeypatch.setattr(bench, "_calibration_sec", _scripted([0.11, 0.12]))
    last, attempts, passed = bench._calibration_gate(spark=None)
    assert passed is True and attempts == [0.11, 0.12] and last == 0.12


def test_release_caches_is_hermetic(spark):
    """_release_caches must empty the CacheManager so a timed pass cannot
    read an InMemoryRelation a warm-up populated (r15 measurement fix):
    plan-equality substitution is exactly what made persist-based bench
    numbers measure cache reads instead of compute."""
    from cryptocurrency_data_pipeline_spark.operators import caching

    tracked = caching.persist(spark.range(100).selectExpr("id * 3 AS v"))
    tracked.count()
    ckpt = caching.checkpoint(spark.range(10), eager=True)
    rid = caching._checkpoint_rdd_id(ckpt)
    assert rid in caching._persistent_rdd_ids(spark.sparkContext)
    untracked = spark.range(50).selectExpr("id + 7 AS w").persist()
    untracked.count()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()

    bench._release_caches(spark)

    # Both the tracked persist and the stray one are gone: a plan equal to
    # either would now recompute rather than hit the CacheManager.
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # The registered local checkpoint's blocks are released too.
    assert rid not in caching._persistent_rdd_ids(spark.sparkContext)
