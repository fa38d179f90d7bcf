"""Every registered query hash-matches its DuckDB oracle at sf0.001 —
the local replica of the driver's sf0.01 correctness gate."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs, gate_order
from tests.conftest import SF_ORACLE
from tests.oracle_util import compare, duck_connect

SPECS = all_specs()


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_ORACLE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver's weak gate
    else:
        compare(df, duck, spec.oracle)


def test_no_batch_query_outputs_a_nested_or_binary_column(spark):
    """Result compares canonicalize scalar values only: an array,
    map, struct or binary output column cannot be attested."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    bad = {
        name: [f.name for f in spec.fn(spark, SF_ORACLE).schema.fields
               if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))]
        for name, spec in sorted(SPECS.items())
        if not name.startswith("streaming_")
    }
    assert {n: cols for n, cols in bad.items() if cols} == {}


# --- the driver's gate order -------------------------------------------------
#: the driver attests the first GATE_WINDOW registered queries per round
GATE_WINDOW = 50
REPO_ROOT = Path(__file__).resolve().parents[1]

OK = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
FAIL = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}


def _latest_attestations(root: Path) -> dict[str, tuple[int, bool]]:
    """name -> (latest round, passed) over the committed artifacts."""
    latest = {}
    rounds = sorted((int(p.stem.removeprefix("CORRECTNESS_r")), p) for p in root.glob("CORRECTNESS_r*.json"))
    for rnd, path in rounds:
        for name, rec in json.loads(path.read_text()).items():
            latest[name] = (rnd, all(rec.get(k) == v for k, v in OK.items()))
    return latest


def test_gate_order_on_committed_attestations():
    """The registry leads with the queries the driver has never attested
    or last saw failing, and no query inside the window passed a later
    attestation than any query left outside it."""
    latest = _latest_attestations(REPO_ROOT)
    order = list(SPECS)
    leaders = [n for n in order if not latest.get(n, (0, False))[1]]
    assert order[: len(leaders)] == leaders
    if latest["survivorship_golden_record"] == (18, False):
        # r18 recorded it failing; it has been fixed since
        assert order[0] == "survivorship_golden_record"
    window, rest = order[:GATE_WINDOW], order[GATE_WINDOW:]
    newest_in = max(latest[n][0] for n in window if n not in leaders)
    oldest_out = min(latest.get(n, (0, False))[0] for n in rest)
    assert newest_in <= oldest_out


def _plant(tmp_path: Path, rounds: dict[str, dict[str, dict]]) -> Path:
    for stem, records in rounds.items():
        (tmp_path / f"CORRECTNESS_{stem}.json").write_text(json.dumps(records))
    return tmp_path


def test_gate_order_never_attested_and_failing_lead(tmp_path):
    art = _plant(tmp_path, {
        "r01": {"a": OK, "b": OK, "c": OK, "d": OK},
        "r02": {"b": FAIL, "c": {**OK, "err": "boom"}, "d": OK},
    })
    assert gate_order(["a", "b", "c", "d", "new"], art) == ["new", "b", "c", "a", "d"]


def test_gate_order_sorts_rounds_by_number(tmp_path):
    # by filename, r10 would be read before r9 and "a" would keep r9's failure
    art = _plant(tmp_path, {"r9": {"a": FAIL, "b": OK}, "r10": {"a": OK}})
    assert gate_order(["a", "b"], art) == ["b", "a"]


def test_gate_order_ties_keep_registration_order(tmp_path):
    art = _plant(tmp_path, {"r03": {n: OK for n in "zyx"}})
    assert gate_order(["y", "x", "z", "w", "v"], art) == ["w", "v", "y", "x", "z"]


def test_gate_order_ignores_unregistered_names(tmp_path):
    art = _plant(tmp_path, {"r01": {"gone": FAIL, "a": OK}, "r02": {"renamed": OK}})
    assert gate_order(["b", "a"], art) == ["b", "a"]


def test_gate_order_without_artifacts_is_registration_order(tmp_path):
    names = list(SPECS)[::-1]
    assert gate_order(names, tmp_path) == names
