"""Plan shapes of the light serve queries on the two store layouts.

``storage.load_version`` loads a store whose datasets each fit one scan
split as single-partition frames: every light query then runs as one Spark
job with no Exchange and no BroadcastExchange, its flag frames folded into
one shuffled hash join. A store with a multi-file dataset loads as written
and keeps its broadcast flag joins. Both must give the same answers, for
the heavy ``mutations`` and ``export`` queries too.
"""

from __future__ import annotations

import pytest

from lapis_silo_spark.saneql import bind_query
from lapis_silo_spark.server import create_app
from lapis_silo_spark.storage import load_version, save_version
from store_layouts import multi_file_copy

SEQ = "sequenceName := 'main'"
LIGHT = {
    "aggregated": (
        "default.filter(country = 'Switzerland' && date >= '2021-01-15'::date)"
        ".groupBy({count := count()}, {pango_lineage})"
    ),
    "details": (
        "default.filter(country = 'Germany' && age >= 18)"
        ".project({primary_key, date, age, pango_lineage})"
        ".orderBy({date, primary_key}).limit(25)"
    ),
    "lineage": (
        "default.filter(pango_lineage.lineage('B.1', "
        "includeSublineages := true)).groupBy({count := count()}, {country})"
    ),
    "nucleotideEquals": (
        f"default.filter(nucleotideEquals(position := 3, symbol := 'T', {SEQ})"
        " && country = 'Switzerland').groupBy({count := count()})"
    ),
    "hasMutation": (
        f"default.filter(hasMutation(position := 3, {SEQ}) && "
        "date >= '2021-01-01'::date).groupBy({count := count()})"
    ),
    "nOf": (
        f"default.filter(nOf(2, {{hasMutation(position := 3, {SEQ}), "
        f"hasMutation(position := 5, {SEQ}), hasMutation(position := 1, {SEQ})"
        "})).groupBy({count := count()})"
    ),
    "maybe": (
        f"default.filter(maybe(nucleotideEquals(position := 5, symbol := 'A', "
        f"{SEQ})) && country = 'Germany').groupBy({{count := count()}})"
    ),
    "insertionContains": (
        f"default.filter(insertionContains(position := 5, value := 'C.*', "
        f"{SEQ})).groupBy({{count := count()}})"
    ),
}
FLAG_KINDS = ("nucleotideEquals", "hasMutation", "nOf", "maybe",
              "insertionContains")
HEAVY = {
    "mutations": "default.filter(country = 'Switzerland')"
                 ".mutations(minProportion := 0.05)",
    "export": "default.filter(country = 'Switzerland')"
              ".project({primary_key, main})",
}


@pytest.fixture(scope="module")
def layouts(spark, example_db, tmp_path_factory):
    base = tmp_path_factory.mktemp("layouts")
    root = str(base / "single")
    save_version(example_db, root)
    multi = multi_file_copy(spark, root, str(base / "multi"))
    return {"single": load_version(spark, root),
            "multi": load_version(spark, multi)}


def _nodes(plan):
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _plan_counts(db, text) -> dict[str, int]:
    plan = bind_query(db, text).df._jdf.queryExecution().executedPlan()
    names = [n.nodeName() for n in _nodes(plan)]
    return {
        "exchanges": names.count("Exchange"),
        "broadcasts": names.count("BroadcastExchange"),
        "joins": sum("Join" in n for n in names),
    }


def _serve(spark, db, text, rid) -> tuple[list[str], int]:
    """Sorted NDJSON lines of ``POST /query`` and the Spark jobs of the
    request's job group."""
    resp = create_app(db).test_client().post(
        "/query", data=text, headers={"X-Request-Id": rid}
    )
    assert resp.status_code == 200, resp.get_data(as_text=True)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(
        f"http-query-{rid}"
    )
    return sorted(resp.get_data(as_text=True).splitlines()), len(jobs)


def test_store_layouts_load_as_intended(layouts):
    assert layouts["single"].single_partition
    assert not layouts["multi"].single_partition


@pytest.mark.parametrize("kind", list(LIGHT))
def test_light_query_is_one_job_on_single_split_store(spark, layouts, kind):
    db = layouts["single"]
    _serve(spark, db, LIGHT[kind], f"single-{kind}-warm")
    _, jobs = _serve(spark, db, LIGHT[kind], f"single-{kind}")
    assert jobs == 1
    counts = _plan_counts(db, LIGHT[kind])
    assert counts["exchanges"] == counts["broadcasts"] == 0
    assert counts["joins"] == (1 if kind in FLAG_KINDS else 0)


@pytest.mark.parametrize("kind", FLAG_KINDS)
def test_multi_file_store_keeps_broadcast_flag_joins(layouts, kind):
    counts = _plan_counts(layouts["multi"], LIGHT[kind])
    assert counts["joins"] >= 1
    assert counts["broadcasts"] == counts["joins"]


@pytest.mark.parametrize("kind", [*LIGHT, *HEAVY])
def test_layouts_give_identical_answers(spark, example_db, layouts, kind):
    text = {**LIGHT, **HEAVY}[kind]
    single, _ = _serve(spark, layouts["single"], text, f"same-s-{kind}")
    multi, _ = _serve(spark, layouts["multi"], text, f"same-m-{kind}")
    in_memory, _ = _serve(spark, example_db, text, f"same-i-{kind}")
    assert single == multi == in_memory
    assert single
