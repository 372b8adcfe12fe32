"""Tests of the benchmark's own helpers (no Spark session needed).

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from opentelemetry_collector_contrib_spark.pipeline import TEXT_PATTERN  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(files: list[str]) -> str:
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


@pytest.fixture()
def con():
    c = gen.connect(2)
    yield c
    c.close()


def _transcripts(con, seed: int, out: str) -> list[str]:
    return gen.write_files(con, gen.transcripts_sql(seed, 300, 6, 2_400), out, 3)


def test_same_seed_same_tables_different_seed_different(con, tmp_path):
    a = _transcripts(con, 7, str(tmp_path / "a"))
    b = _transcripts(con, 7, str(tmp_path / "b"))
    c = _transcripts(con, 8, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    docs = {
        name: _digest(gen.write_files(con, gen.documents_sql(seed, 40, 3), str(tmp_path / name), 1))
        for name, seed in (("d1", 7), ("d2", 7), ("d3", 8))
    }
    assert docs["d1"] == docs["d2"] != docs["d3"]


def test_generated_transcripts_have_the_stated_properties(con, tmp_path):
    _transcripts(con, 3, str(tmp_path / "t"))
    props = gen.transcript_properties(con, str(tmp_path / "t" / "*.parquet"), TEXT_PATTERN)
    assert 0.02 < props["malformed_share"] < 0.09
    assert props["hot_row_share"] > 0.2  # ~1% of conversations at 100x turns


def test_generated_documents_have_the_sf01_shape(con, tmp_path):
    gen.write_files(con, gen.documents_sql(5, 600, 2), str(tmp_path / "d"), 1)
    props = gen.document_properties(con, str(tmp_path / "d" / "*.parquet"))
    assert props["rows"] == 1_200
    assert 50 < props["mean_words"] < 60  # 10-99 words, plus " dup" on copies
    assert props["vocabulary"] == len(gen.VOCAB) + 1  # the words and "dup"
    assert 0.02 < props["dup_copy_share"] < 0.09


def _write_routed_sink(con, route_sql: str, out: str, drop: int = 0) -> None:
    """The sink layout write_routed produces: <out>/route=<sink>/*.parquet."""
    con.execute(
        f"COPY (SELECT * FROM ({route_sql}) OFFSET {drop}) TO '{out}' "
        f"(FORMAT parquet, PARTITION_BY (route))"
    )


def test_oracle_check_fails_on_a_sink_with_one_row_dropped(con, tmp_path):
    files = _transcripts(con, 5, str(tmp_path / "t"))
    o = oracle.TranscriptOracle(con, str(tmp_path / "t" / "*.parquet"))
    twins, cte = oracle._twins()
    route_sql = oracle._over_table(
        twins["route_match_once"], cte, f"read_parquet({files!r})"
    )
    good, short = str(tmp_path / "good"), str(tmp_path / "short")
    _write_routed_sink(con, route_sql, good)
    _write_routed_sink(con, route_sql, short, drop=1)
    assert oracle.check_sinks(oracle.sink_counts(con, good), o.sinks) == []
    assert oracle.check_sinks(oracle.sink_counts(con, short), o.sinks) != []


def test_dedup_oracle_check_fails_on_a_pair_set_with_one_row_dropped(con, tmp_path):
    gen.write_files(con, gen.documents_sql(11, 30, 3), str(tmp_path / "docs"), 1)
    o = oracle.DedupOracle(con, str(tmp_path / "docs" / "*.parquet"))
    assert o.lsh_pairs > 0 and o.winnow_pairs > 0
    for name, table in (("lsh", "__want_lsh"), ("winnow", "__want_winnow")):
        for variant, offset in (("good", 0), ("short", 1)):
            d = tmp_path / variant / name
            d.mkdir(parents=True)
            con.execute(
                f"COPY (SELECT * FROM {table} ORDER BY ALL OFFSET {offset}) "
                f"TO '{d / 'part-0.parquet'}' (FORMAT parquet)"
            )
    assert o.check(con, str(tmp_path / "good" / "lsh"), str(tmp_path / "good" / "winnow")) == []
    bad = o.check(con, str(tmp_path / "short" / "lsh"), str(tmp_path / "short" / "winnow"))
    assert len(bad) == 2 and all("1 missing" in b for b in bad)


def test_every_metric_name_is_well_formed_and_used_once():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))


def test_metric_block_fills_untouched_layers_and_rejects_undeclared_names():
    specs = [{"name": "a.x_s", "unit": "s"}, {"name": "b.y", "unit": "count"}]
    block = run.metric_block(specs, {"a.x_s": 1.5})
    assert block == {
        "a.x_s": {"value": 1.5, "unit": "s"},
        "b.y": {"value": 0.0, "unit": "count"},
    }
    with pytest.raises(KeyError):
        run.metric_block(specs, {"c.z": 1.0})


def test_percentiles():
    xs = [float(i) for i in range(1, 101)]
    assert run.percentile(xs, 50) == pytest.approx(50.5)
    assert run.percentile(xs, 90) == pytest.approx(90.1)
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(19) is None
