"""Oracle-checked query library (the driver contract, SURVEY.md §2).

Each :class:`QuerySpec` pairs a Spark implementation (DataFrame-native or
engine SQL) with the equivalent ANSI SQL that DuckDB runs on the same
parquet tables.  Column names/aliases are identical on both sides — the
driver's compare sorts columns by name before value-hashing.

``REGISTRY`` is the single source of truth consumed by ``__spark_entry__``
(driver), ``bench.py`` (headline set), and ``tests/test_oracle.py`` (local
sf0.001 replica of the driver's sf0.01 gate).

The driver attests the first 50 registered queries per round into
``CORRECTNESS_r<N>.json`` at the repo root.  At import, :func:`gate_order`
sorts the registry from those files: never-attested and latest-failing
queries first, then the oldest-attested, ties in registration order.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    #: DuckDB-runnable ANSI SQL over pre-registered views; None → the driver
    #: records a weaker rows-only check (non-SQL-expressible ops).
    oracle: str | None
    #: included in bench.py's headline timing set
    headline: bool = False
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in REGISTRY:
        raise ValueError(f"duplicate query name: {spec.name}")
    REGISTRY[spec.name] = spec
    return spec


def query(name: str, oracle: str | None, headline: bool = False, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn):
        register(QuerySpec(name=name, fn=fn, oracle=oracle, headline=headline, doc=doc or fn.__doc__ or ""))
        return fn

    return deco


#: DuckDB predicate for a well-formed embedding row (NULL vector OK,
#: any NULL/NaN/±inf ELEMENT is malformed) — the oracle twin of
#: functions.scalar.finite_embedding; bool_and over an empty list is
#: NULL, coalesced TRUE to match Spark's forall-over-empty
FINITE_EMBEDDING_SQL = (
    "(embedding IS NULL OR coalesce(list_aggregate(list_transform("
    "embedding, x -> x IS NOT NULL AND isfinite(x)), 'bool_and'), TRUE))"
)


#: Java's regex \s spelled as an explicit RE2 class (r14 unicode audit
#: wave 4): RE2's \s is [ \t\n\f\r] while Java's adds VERTICAL TAB
#: (U+000B), so an oracle that mirrors a Spark-side \s with a DuckDB \s
#: silently diverges token boundaries on any corpus containing VT.
DUCK_WS = r"[ \t\n\x0b\f\r]"

#: canonical DuckDB twin of functions.text.tokens — ONE definition so the
#: two unicode hazards cannot re-enter per-module copies: (1) the \s
#: class above; (2) DuckDB's bare trim() strips UNICODE spaces (NBSP
#: U+00A0, ideographic U+3000) that Spark's trim (ASCII 0x20 only)
#: keeps, so it must be the explicit-charset form trim(x, ' ').
DUCK_TOKS = (
    f"list_filter(string_split_regex(trim(text, ' '), '{DUCK_WS}+'), t -> t <> '')"
)


def nse_oracle(sql: str) -> str:
    """Wrap an oracle so its ``embeddings`` references see only
    well-formed rows (r14 embeddings audit): prepends a CTE that SHADOWS
    the ``embeddings`` view with the :data:`FINITE_EMBEDDING_SQL` filter
    (body reads ``main.embeddings`` — DuckDB otherwise binds the CTE's
    own name as circular).  Mirrors the Spark side's
    ``finite_embedding`` filter at the load site, so both engines
    swallow the same malformed vectors.  Works on literal AND generated
    oracles without touching their internals; merges into an existing
    WITH."""
    cte = (
        "embeddings AS (SELECT * FROM main.embeddings WHERE "
        + FINITE_EMBEDDING_SQL
        + ")"
    )
    stripped = sql.lstrip()
    lead = sql[: len(sql) - len(stripped)]
    if stripped[:14].upper().startswith("WITH RECURSIVE"):
        return f"{lead}WITH RECURSIVE {cte},\n{stripped[14:].lstrip()}"
    if stripped[:4].upper() == "WITH":
        return f"{lead}WITH {cte},\n{stripped[4:].lstrip()}"
    return f"{lead}WITH {cte}\n{stripped}"


def load(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    """Read TESTDATA parquet tables and register them as temp views."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    out = []
    for t in tables:
        df = read_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out.append(df)
    return out



def scratch_dir(prefix: str) -> str:
    """mkdtemp whose tree is removed at interpreter exit.  Streaming
    queries dump replay fixtures (full-table JSON copies) into temp
    dirs; a bare mkdtemp leaks one such copy per query per gate run,
    accumulating across rounds until the host fills.  The files must
    outlive the query's own run (the stream reads them lazily), so
    cleanup is atexit, not eager."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# import side-effect: populate REGISTRY
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import (  # noqa: E402,F401
    advanced,
    arrays_windows,
    extras,
    llm,
    mining,
    pipeline_ops,
    reference,
    relational,
)

_ATTESTATION = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _passed(record: dict) -> bool:
    return (
        record.get("rows_match") is True
        and record.get("schema_match") is True
        and record.get("hash_match") is True
        and record.get("err") is None
    )


def gate_order(names: Iterable[str], artifact_dir: str | Path) -> list[str]:
    """``names`` sorted by (latest attestation passed, latest attested
    round), ties in their given order, over the ``CORRECTNESS_r<N>.json``
    files in ``artifact_dir``: never-attested and latest-failing names
    first, then the oldest-attested.  Names the artifacts hold but
    ``names`` does not are ignored."""
    latest: dict[str, tuple[bool, int]] = {}
    rounds = sorted(
        (int(m.group(1)), path)
        for path in Path(artifact_dir).glob("CORRECTNESS_r*.json")
        if (m := _ATTESTATION.fullmatch(path.name))
    )
    for rnd, path in rounds:
        for name, record in json.loads(path.read_text()).items():
            latest[name] = (_passed(record), rnd)
    # sorted() is stable: ties keep their order in ``names``
    return sorted(names, key=lambda n: latest.get(n, (False, 0)))


_ordered = {n: REGISTRY[n] for n in gate_order(REGISTRY, Path(__file__).resolve().parents[2])}
REGISTRY.clear()
REGISTRY.update(_ordered)
del _ordered


def all_specs() -> dict[str, QuerySpec]:
    return dict(REGISTRY)
