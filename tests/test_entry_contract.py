"""Driver-contract smoke: entry() produces rows; every oracle key exists in
queries(); a sample of registry queries runs at sf0.001."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs)
    for sql in oracles.values():
        assert isinstance(sql, str) and "SELECT" in sql.upper()


def _green_latest_round() -> dict[str, int]:
    """name -> latest round with a green driver row, derived from the
    committed CORRECTNESS_r*.json artifacts rather than pinned, so each
    round's rotation test checks the *policy* (budget goes to the weakest
    evidence first) against the actual certification history."""
    import json
    import re
    from glob import glob
    from pathlib import Path

    latest: dict[str, int] = {}
    for p in sorted(glob(str(Path(__file__).resolve().parent.parent / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)", p).group(1))
        for key, row in json.load(open(p)).items():
            if (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match")
            ):
                name = re.sub(r"^c\d+_", "", key)
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _driver_green_names() -> set[str]:
    return set(_green_latest_round())


def test_priority_order_is_total_and_stable():
    """Driver keys: sorted order == insertion order == priority order; the
    prefix strips back to exactly the registry names; every PRIORITY entry
    exists (no stale names); the rotation policy holds — the 50-row driver
    budget goes to names without a green CORRECTNESS row, not re-certs."""
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.plans.priority import PRIORITY

    keys = list(entry_mod.queries())
    assert keys == sorted(keys)
    names = [k.split("_", 1)[1] for k in keys]
    assert set(names) == set(REGISTRY) and len(names) == len(REGISTRY)
    assert len(set(PRIORITY)) == len(PRIORITY)
    assert set(PRIORITY) <= set(REGISTRY)
    # nothing already driver-certified green occupies a top-50 slot while
    # uncertified names remain (the re-cert tail may enter only once every
    # name has a row)
    latest = _green_latest_round()
    green = set(latest)
    uncertified = set(names) - green
    if len(uncertified) >= 50:
        assert not (green & set(names[:50]))
    else:
        assert uncertified <= set(names[: max(50, len(uncertified))])
    # certification-vintage policy: while any name's *latest* green row
    # predates the round-2->3 testdata regeneration (r01/r02), those stale
    # certifications must occupy the earliest budget slots so the driver
    # re-earns them on current data before spending budget on re-certs of
    # fresh rows.  Once every name has an r03+ row this is vacuous.
    vintage = {n for n in names if latest.get(n, 99) <= 2}
    if vintage:
        head = max(50, len(uncertified | vintage))
        assert (uncertified | vintage) <= set(names[:head])
    # round-16 rotation policy, PINNED to the artifact state it was rotated
    # against (the r01..r15 union: 0 uncertified, 39 names at r12, 48 at
    # r13, 49 at r14, 50 at r15): budget slots go to uncertified newcomers
    # registered this round, then the SEMANTICS_CHANGED set (semantics
    # changed after their latest green row — stale evidence by
    # construction), then the 39 r12-vintage names, then the oldest r13
    # head — checked as "no certified name outside the top-50 has staler
    # evidence than any certified name inside it", with SEMANTICS_CHANGED
    # names excluded from the monotonicity comparison (their green rounds
    # are fresh but their evidence is stale by construction; they must sit
    # in the head instead). The clause SKIPS once CORRECTNESS_r16 lands
    # (the r17 rotation re-pins): the r7 version instead predicted the
    # post-landing vintage state and got it wrong, going red the moment
    # the driver dropped r07 into the tree (VERDICT r7 item 1) — rotation
    # meta-tests must assert against the evidence they were rotated on,
    # never against a forecast.
    from torchfusion_spark.plans.priority import SEMANTICS_CHANGED

    max_round = max(latest.values(), default=0)
    if max_round == 15:
        stale_oldest = {n for n in names if latest.get(n, 99) <= 12}
        promoted = uncertified | SEMANTICS_CHANGED | stale_oldest
        head = max(50, len(promoted))
        assert promoted <= set(names[:head])
        in_top = [
            latest[n] for n in names[:50] if n in latest and n not in SEMANTICS_CHANGED
        ]
        out_top = [
            latest[n] for n in names[50:] if n in latest and n not in SEMANTICS_CHANGED
        ]
        if in_top and out_top:
            assert min(out_top) >= max(in_top)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"vec_id", "predicted", "label"} <= set(df.columns)


def test_sample_queries_run(spark, tables):
    qs = entry_mod.queries()
    by_name = {k.split("_", 1)[1]: fn for k, fn in qs.items()}
    for name in ["q1_pricing_summary", "join_full_outer", "win_ranking", "fn_json"]:
        df = by_name[name](spark, tables)
        assert df.count() >= 0


def test_registry_builder_tunes_host_session(spark, tables):
    """A host session carrying Spark defaults (the driver's) gets the
    engine's runtime confs applied by any registry builder."""
    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.session import overriding

    # a session not yet configured, with a Spark default; the override
    # restores the suite's value afterwards
    with overriding(spark, {"spark.sql.shuffle.partitions": "200"}):
        spark._tf_configured = False
        try:
            REGISTRY["select_distinct"].builder(spark, tables)
            assert spark.conf.get("spark.sql.shuffle.partitions") != "200"
            assert spark.conf.get("spark.sql.parquet.aggregatePushdown") == "true"
        finally:
            spark._tf_configured = True
