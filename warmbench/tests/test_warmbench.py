"""Tests of the benchmark itself: generators are byte-identical per seed,
every oracle accepts a correct output, and every check rejects a
deliberately corrupted one. No Spark session is needed.

    python3 -m pytest warmbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from warmbench import checks, gen  # noqa: E402
from warmbench.run import tail  # noqa: E402

INGEST_DATE = "2024-01-01"


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    names = cmp.common_files
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors) and len(match) == len(names)


def test_star_tables_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        gen.write_star(gen.star_tables(7, 600), str(tmp_path / d))
    gen.write_star(gen.star_tables(8, 600), str(tmp_path / "c"))
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _tree_equal(str(tmp_path / "a"), str(tmp_path / "c"))


def test_retail_csv_is_deterministic_and_dirty():
    star = gen.star_tables(3, 800)
    text = gen.retail_csv(star, 3)
    assert text == gen.retail_csv(gen.star_tables(3, 800), 3)
    assert text != gen.retail_csv(gen.star_tables(4, 800), 4)
    lines = text.splitlines()
    assert lines[0].startswith("InvoiceNo,StockCode")
    body = lines[1:]
    assert any(line.startswith("C") for line in body)  # returns
    assert any(line.startswith(",") for line in body)  # blank invoice
    assert len(body) != len(set(body))  # exact duplicates


def test_cdc_files_are_byte_identical_and_ordered(tmp_path):
    for d in ("a", "b"):
        gen.write_cdc_files(gen.cdc_batches(5, 200, 4, 60), str(tmp_path / d))
    assert _tree_equal(str(tmp_path / "a"), str(tmp_path / "b"))
    names = sorted(os.listdir(tmp_path / "a"))
    mtimes = [os.path.getmtime(tmp_path / "a" / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    ops = {json.loads(line)["op"] for n in names[1:] for line in open(tmp_path / "a" / n)}
    assert ops == {"c", "u", "d"}


def test_tail_keeps_ten_samples_above_it():
    values = list(range(1, 101))
    value, pct = tail(values)
    assert value == 90 and pct == 90.0
    assert sum(v > value for v in values) == 10
    value, pct = tail(list(range(1, 13)))  # too few samples: the median
    assert (value, pct) == (6, 50.0)


# ---------------------------------------------------------------------------
# Medallion checks
# ---------------------------------------------------------------------------


def _copy(con, select: str, path: str, partition: str | None) -> None:
    opts = "FORMAT PARQUET" + (f", PARTITION_BY ({partition})" if partition else "")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({select}) TO '{path}' ({opts})")


@pytest.fixture()
def medallion(tmp_path):
    """A correct medallion output, written from the oracle tables."""
    csv = str(tmp_path / "input" / "retail.csv")
    text = gen.retail_csv(gen.star_tables(11, 400), 11)
    gen.write_text(text, csv)
    con = checks.connect()
    checks.build_medallion_oracle(con, csv, INGEST_DATE)
    out = str(tmp_path / "out")
    _copy(con, f"SELECT *, 1 AS row_id, '{csv}' AS source_file FROM o_bronze",
          f"{out}/bronze", "ingestion_date")
    _copy(con, "SELECT * FROM o_silver", f"{out}/silver", "invoice_year")
    for name in checks.GOLD_COLS:
        part = "country" if name != "cohort_analysis" else None
        _copy(con, f"SELECT * FROM o_{name}", f"{out}/gold/{name}" + ("" if part else "/data.parquet"), part)
    return con, out, text.count("\n") - 1


def test_medallion_check_accepts_correct_output(medallion):
    con, out, lines = medallion
    assert checks.check_medallion(con, out, lines) == []


@pytest.mark.parametrize(
    "layer, select, partition, expect",
    [
        ("bronze", "SELECT *, 1 AS row_id, '{csv}' AS source_file FROM o_bronze LIMIT (SELECT count(*) - 1 FROM o_bronze)",
         "ingestion_date", "bronze"),
        ("silver", "SELECT * REPLACE (CASE WHEN rowid = 0 THEN quantity + 1 ELSE quantity END AS quantity) FROM o_silver",
         "invoice_year", "silver"),
        ("silver", "SELECT * REPLACE (NOT is_outlier AS is_outlier) FROM o_silver", "invoice_year", "is_outlier"),
        ("gold/sales_summary",
         "SELECT * REPLACE (CASE WHEN rowid = 0 THEN total_revenue + 1 ELSE total_revenue END AS total_revenue) FROM o_sales_summary",
         "country", "gold.sales_summary"),
        ("gold/product_analysis",
         "SELECT * REPLACE (revenue_rank + 1 AS revenue_rank) FROM o_product_analysis", "country", "revenue ranks"),
        ("gold/time_series_daily", "SELECT * FROM o_time_series_daily WHERE rowid > 0", "country",
         "gold.time_series_daily"),
    ],
)
def test_medallion_check_rejects_corruption(medallion, tmp_path, layer, select, partition, expect):
    con, out, lines = medallion
    shutil.rmtree(f"{out}/{layer}")
    csv = str(tmp_path / "input" / "retail.csv")
    _copy(con, select.format(csv=csv), f"{out}/{layer}", partition)
    problems = checks.check_medallion(con, out, lines)
    assert problems and any(expect in p for p in problems), problems


# ---------------------------------------------------------------------------
# Dashboard query check
# ---------------------------------------------------------------------------


def test_query_check_accepts_and_rejects(tmp_path):
    star = str(tmp_path / "star")
    gen.write_star(gen.star_tables(2, 500), star)
    con = checks.connect()
    checks.register_star(con, star)
    sql = "SELECT n_name AS nation, count(*) AS customers, avg(c_acctbal) AS bal FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    assert checks.check_query(con, sql, cols, rows[::-1]) == []
    assert checks.check_query(con, sql, cols, rows[1:])  # a missing row
    bad = [rows[0][:2] + (rows[0][2] + 0.01,)] + rows[1:]
    assert checks.check_query(con, sql, cols, bad)  # a wrong value
    assert checks.check_query(con, sql, ["nation", "customers", "balance"], rows)  # a renamed column


# ---------------------------------------------------------------------------
# SCD2 check
# ---------------------------------------------------------------------------


def _env(op, key, bal, ts, seg="BUILDING"):
    row = {"customer_id": key, "segment": seg, "nation_key": 1, "acctbal": bal}
    return gen._envelope(op, row, ts * 1000, ts)


# b0 creates; b1 LWW within the batch, a no-op upsert and a late event;
# b2 a delete and a create; b3 a re-create after the delete
CHUNKS = [
    [_env("r", 1, 10.0, 10), _env("r", 2, 20.0, 10)],
    [_env("u", 1, 15.0, 30), _env("u", 1, 12.0, 20), _env("u", 2, 20.0, 30), _env("u", 2, 99.0, 5)],
    [_env("d", 2, 20.0, 40), _env("c", 3, 30.0, 40)],
    [_env("c", 2, 25.0, 50)],
]
EXPECTED = {
    (1, 10.0, 10_000, 30_000, False),
    (1, 15.0, 30_000, None, True),
    (2, 20.0, 10_000, 40_000, False),
    (2, 25.0, 50_000, None, True),
    (3, 30.0, 40_000, None, True),
}


def _write_table(con, table_dir: str, select: str) -> None:
    os.makedirs(f"{table_dir}/v=0", exist_ok=True)
    con.execute(f"COPY ({select}) TO '{table_dir}/v=0/part-0.parquet' (FORMAT PARQUET)")
    with open(f"{table_dir}/_manifest.json", "w") as fh:
        json.dump([{"version": 0, "ts": 0, "operation": "test"}], fh)


_AS_TABLE = """SELECT customer_id, segment, nation_key, acctbal,
    make_timestamp(valid_from_ms * 1000) AS valid_from,
    make_timestamp(valid_to_ms * 1000) AS valid_to, is_current FROM o_scd2"""


def test_scd2_oracle_semantics(tmp_path):
    gen.write_cdc_files(CHUNKS, str(tmp_path / "src"))
    con = checks.connect()
    checks.load_change_log(con, str(tmp_path / "src"))
    checks.build_scd2_oracle(con)
    got = set(con.execute(
        "SELECT customer_id, acctbal, valid_from_ms, valid_to_ms, is_current FROM o_scd2").fetchall())
    assert got == EXPECTED


def test_scd2_check_accepts_and_rejects(tmp_path):
    gen.write_cdc_files(gen.cdc_batches(9, 150, 4, 80), str(tmp_path / "src"))
    con = checks.connect()
    checks.load_change_log(con, str(tmp_path / "src"))
    checks.build_scd2_oracle(con)
    _write_table(con, str(tmp_path / "good"), _AS_TABLE)
    assert checks.check_scd2(con, str(tmp_path / "good")) == []
    _write_table(con, str(tmp_path / "stale"), _AS_TABLE + " WHERE rowid > 0")
    assert checks.check_scd2(con, str(tmp_path / "stale"))
    _write_table(con, str(tmp_path / "open"), _AS_TABLE.replace(
        "is_current FROM", "true AS is_current FROM"))
    problems = checks.check_scd2(con, str(tmp_path / "open"))
    assert any("more than one current" in p for p in problems), problems


def test_benchmark_json_lists_every_printed_metric():
    from warmbench.run import END_TO_END, PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from warmbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# ---------------------------------------------------------------------------
# Serving mix, trace folding, failure accounting
# ---------------------------------------------------------------------------

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_serving_mix_is_the_stratified_draw_of_the_committed_probe():
    from warmbench.mix_probe import MIX_SIZE, strata, stratified_mix
    from warmbench.workloads import SERVING_MIX

    with open(os.path.join(_ROOT, "warmbench", "results", "mix_probe.json")) as fh:
        probe = json.load(fh)
    costs = probe["cost_ms"]
    groups = strata(costs, MIX_SIZE)
    assert sorted(n for g in groups for n in g) == sorted(costs)
    assert max(map(len, groups)) - min(map(len, groups)) <= 1
    assert list(SERVING_MIX) == stratified_mix(costs) == probe["mix"]
    assert all(n in g for g, n in zip(groups, SERVING_MIX))


def test_fold_gives_a_span_its_descendants_files_and_jobs(tmp_path):
    from warmbench.trace import fold

    for d, n in (("w1", 2), ("w2", 3)):
        os.makedirs(tmp_path / d)
        for i in range(n):
            (tmp_path / d / f"part-{i}.parquet").write_bytes(b"x" * 10)
        (tmp_path / d / "_SUCCESS").write_bytes(b"")
    (tmp_path / "in.csv").write_bytes(b"y" * 7)
    spans = [
        {"id": 0, "name": "etl.bronze", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "sources.readers", "parent": 0, "start": 0.0, "end": 1.0,
         "read_path": str(tmp_path / "in.csv")},
        {"id": 2, "name": "sources.writers", "parent": 0, "start": 1.0, "end": 5.0, "path": str(tmp_path / "w1")},
        {"id": 3, "name": "sources.writers", "parent": 0, "start": 5.0, "end": 9.0, "path": str(tmp_path / "w2")},
    ]
    job = {"tasks": 4, "executor_run_s": 1.0, "executor_cpu_s": 1.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "output_bytes": 20, "input_bytes": 0}
    jobs = [{"id": 0, "group": "span-2", "start": 2.0, "end": 4.0, **job},
            {"id": 1, "group": "span-3", "start": 6.0, "end": 8.0, **job}]
    fold(spans, jobs)
    bronze = spans[0]
    assert (bronze["files_written"], bronze["bytes_on_disk"], bronze["read_bytes"]) == (5, 50, 7)
    assert (bronze["jobs"], bronze["tasks"], bronze["output_bytes"]) == (2, 8, 40)
    assert bronze["driver_gap_s"] == pytest.approx(6.0)
    assert (spans[2]["files_written"], spans[2]["read_bytes"]) == (2, 0)


def test_a_pass_that_raises_counts_its_planned_operations():
    from warmbench.run import end_to_end, one_pass
    from warmbench.trace import NullTracer

    class Broken:
        planned_ops = 7

        def run_pass(self, spark, tracer, tag):
            raise RuntimeError("stream failed")

    p = one_pass(Broken(), None, NullTracer(), "m0", 0)
    assert (p.raised, p.broken, p.ops_ms) == (7, True, [])
    assert "stream failed" in p.problems[0]
    values, _ = end_to_end(1.0, [p], {"shuffle_write_bytes": 0, "spill_bytes": 0})
    assert values["setup_s"] == 1.0 and values["op_p50_ms"] == 0.0
