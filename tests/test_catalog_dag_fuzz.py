"""Catalog-mode lineage fuzzing over random multi-stage view DAGs
(round-11 verdict item #5; permanent-view stages added per r12 item #5).

The reference's hardest catalog machinery — temp-view collapse and
semanticHash subplan substitution (SQLFlow.scala:94-171) — was previously
tested on hand-written corpora only, while the plan fuzzer exercised
single-statement DataFrame mode. Each seed here builds a random 3-5 stage
view chain on top of a fuzzer-generated base query, registers every
stage in an isolated session catalog, and additionally defines one
"hash reuse" stage from a FRESH re-analysis of the base query's SQL text
(never referencing the base view by name) — the shape that can only be
wired up by semanticHash substitution, not by structural
SubqueryAlias(View) matching.

Mixed temp/permanent DAGs: ~2/3 of seeds persist the first 1-2 chain
stages as CREATE OR REPLACE VIEW in a warehouse database, exercising the
reference's permanent-view path — viewText re-parse + re-analysis across
databases (SQLFlow.scala:66-74) — under the same invariants. Spark
forbids persistent views over temp objects, so the permanent stages sit
at the BOTTOM of the chain over permanent external parquet tables (the
same files the temp views read), and the fuzzer SQL is qualified into
that database for those seeds.

Invariants per seed, both catalog modes:
- every stage view appears as a graph node and every edge endpoint exists;
- consecutive stages are DIRECTLY connected in contracted mode and
  reachable in expanded mode;
- the hash-reuse stage has a direct contracted edge from the base stage
  (proof the textual copy collapsed to a TempViewNode instead of
  duplicating the base tables) — including when the base is PERMANENT;
- contracted never invents source views/tables the expanded mode lacks;
- permanent-table leaves carry the catalog createTime prop
  (setPlanPropsIn, SQLFlow.scala:288-314).
"""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from spark_sql_flow_plugin_spark import fuzz
from spark_sql_flow_plugin_spark.api import extract
from spark_sql_flow_plugin_spark.sources import register_views

N_DAGS = 30
_DB = "dagfuzz"


@pytest.fixture(scope="module")
def perm_db(spark, sf_dir):
    """Warehouse database with permanent EXTERNAL parquet tables over the
    same files the temp views read — the persistent foundation permanent
    view stages are allowed to reference."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_DB}")
    for t in fuzz.FUZZ_TABLES:
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {_DB}.{t} USING parquet "
            f"LOCATION '{sf_dir}/{t}.parquet'"
        )
    yield _DB
    spark.sql(f"DROP DATABASE IF EXISTS {_DB} CASCADE")


def _qualify(sql: str) -> str:
    """Point the fuzzer SQL's table references at the permanent database.
    TPC-H table names only ever appear as FROM/JOIN tokens (columns are
    prefixed l_/o_/...), so a word-boundary replace is unambiguous."""
    return re.sub(
        r"\b(" + "|".join(fuzz.FUZZ_TABLES) + r")\b",
        lambda m: f"{_DB}.{m.group(1)}",
        sql,
    )


def _sql_transform(rng: random.Random, view: str, cols: list[str]) -> str:
    """_transform's SQL-text twin for permanent stages (CREATE VIEW needs
    a statement, not a DataFrame)."""
    c0 = cols[0]
    r = rng.random()
    if r < 0.3:
        return f"SELECT * FROM {view} WHERE {c0} IS NOT NULL"
    if r < 0.55:
        keep = ", ".join(cols[: rng.randint(1, len(cols))])
        return f"SELECT DISTINCT {keep} FROM {view}"
    if r < 0.8:
        return (
            f"SELECT {c0}, CAST(COUNT(*) AS BIGINT) AS n_rows "
            f"FROM {view} GROUP BY {c0}"
        )
    return f"SELECT * FROM {view} UNION ALL SELECT * FROM {view}"


def _transform(rng: random.Random, df):
    """A random type-agnostic stage transform (works on any schema)."""
    cols = df.columns
    c0 = cols[0]
    r = rng.random()
    if r < 0.25:
        return df.where(F.col(c0).isNotNull())
    if r < 0.45:
        keep = cols[: max(1, rng.randint(1, len(cols)))]
        return df.select(*keep).distinct()
    if r < 0.70:
        return df.groupBy(c0).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows")
        )
    if r < 0.85:
        return df.unionAll(df)
    return df.orderBy(F.col(c0).asc_nulls_first()).limit(100)


def _build_dag(spark, sf_dir, seed: int, use_perm: bool):
    """Register the random view chain in a fresh session; returns
    (session, stage names in order, hash-reuse stage name, permanent
    stage names). When use_perm, the first 1-2 stages are CREATE OR
    REPLACE VIEW in the warehouse database (qualified fuzzer SQL —
    persistent views cannot reference temp objects), the rest temp."""
    rng = random.Random(10_000 + seed)
    s = spark.newSession()  # isolated temp-view catalog per seed
    register_views(s, sf_dir, *fuzz.FUZZ_TABLES)
    _, base_sql, _ = fuzz.gen_pair(7_000 + seed)
    n_perm = rng.choice([1, 1, 2]) if use_perm else 0
    if n_perm:
        base_sql = _qualify(base_sql)
    stages: list[str] = []
    perm: list[str] = []
    base = f"st{seed}_0"
    if n_perm:
        s.sql(f"CREATE OR REPLACE VIEW {_DB}.{base} AS {base_sql}")
        stages.append(f"{_DB}.{base}")
        perm.append(f"{_DB}.{base}")
    else:
        s.sql(base_sql).createOrReplaceTempView(base)
        stages.append(base)
    for i in range(1, rng.randint(3, 5)):
        name = f"st{seed}_{i}"
        if i < n_perm:
            cols = s.table(stages[-1]).columns
            tsql = _sql_transform(rng, stages[-1], cols)
            s.sql(f"CREATE OR REPLACE VIEW {_DB}.{name} AS {tsql}")
            stages.append(f"{_DB}.{name}")
            perm.append(f"{_DB}.{name}")
        else:
            prev = s.table(stages[-1])
            _transform(rng, prev).createOrReplaceTempView(name)
            stages.append(name)
    # hash-reuse stage: the base query's TEXT re-analyzed from scratch —
    # no table() reference to the base view anywhere in its plan. The
    # seed-tag projection can never hash-collide with a chain stage
    # (none adds a literal column), so the only collapsible subtree is
    # the inlined base query itself.
    reuse = f"st{seed}_reuse"
    fresh = s.sql(base_sql)
    fresh.select("*", F.lit(seed).alias("seed_tag")).createOrReplaceTempView(
        reuse
    )
    # cache stage (r14 verdict item #5): ~60% of seeds CACHE TABLE a
    # random TEMP stage — the live path that found the Spark-4
    # lookupCachedData signature break (plans/catalog.py::_cache_probe)
    cached = None
    temp_stages = [st for st in stages if "." not in st]
    if temp_stages and rng.random() < 0.6:
        cached = rng.choice(temp_stages)
        s.sql(f"CACHE TABLE {cached}")
    return s, stages, reuse, perm, cached


def _reachable(edges, src: str, dst: str) -> bool:
    adj: dict[str, set[str]] = {}
    for e in edges:
        adj.setdefault(e.from_id, set()).add(e.to_id)
    seen, todo = set(), [src]
    while todo:
        cur = todo.pop()
        if cur == dst:
            return True
        if cur in seen:
            continue
        seen.add(cur)
        todo.extend(adj.get(cur, ()))
    return False


def _resolve(ids: set[str], name: str, ctx: str) -> str:
    """A stage's graph id: permanent views may enumerate catalog- or
    database-qualified, so match on the (seed-unique) last component."""
    last = name.split(".")[-1]
    match = [i for i in ids if i == name or i.split(".")[-1] == last]
    assert match, f"{ctx}: stage {name} missing from the catalog graph"
    return match[0]


@pytest.mark.parametrize("seed", range(N_DAGS))
def test_catalog_dag_lineage(spark, sf_dir, perm_db, seed):
    # mixed temp/permanent DAGs: 2/3 of the seeds persist 1-2 stages
    use_perm = seed % 3 != 0
    session, stages, reuse, perm, cached = _build_dag(
        spark, sf_dir, seed, use_perm
    )
    try:
        _check_dag(session, stages, reuse, perm, seed)
        if cached is not None:
            _check_cached(session, cached, seed)
    finally:
        if cached is not None:
            session.sql(f"UNCACHE TABLE IF EXISTS {cached}")
        for v in perm:
            session.sql(f"DROP VIEW IF EXISTS {v}")


def _check_cached(session, cached: str, seed: int):
    """The cached stage's view node must carry is_cached in BOTH catalog
    modes (lightblue in DOT — reference SQLFlow.scala:90,174), and the
    uncache control must clear it (proves the flag tracks the LIVE
    cacheManager, not a stale plan annotation)."""
    from spark_sql_flow_plugin_spark.api import to_sql_flow_string

    for mode in (False, True):
        nodes, _ = extract(session, contracted=mode)
        flags = {n.ident: n.is_cached for n in nodes}
        assert flags.get(cached), (
            f"seed {seed}: cached stage {cached} not flagged "
            f"(contracted={mode}); cached idents="
            f"{sorted(k for k, v in flags.items() if v)}"
        )
    dot = to_sql_flow_string(session, contracted=True)
    assert "lightblue" in dot, f"seed {seed}: no lightblue node in DOT"
    session.sql(f"UNCACHE TABLE {cached}")
    nodes, _ = extract(session, contracted=True)
    still = [n.ident for n in nodes if n.is_cached and n.ident == cached]
    assert not still, f"seed {seed}: {cached} still flagged after UNCACHE"


def _check_dag(session, stages, reuse, perm, seed):
    xnodes, xedges = extract(session, contracted=False)
    cnodes, cedges = extract(session, contracted=True)

    for nodes, edges, mode in ((xnodes, xedges, "expanded"), (cnodes, cedges, "contracted")):
        assert nodes and edges, f"seed {seed} {mode}: empty catalog graph"
        ids = {n.unique_id for n in nodes}
        for e in edges:
            assert e.from_id in ids and e.to_id in ids, (
                f"seed {seed} {mode}: dangling edge {e.from_id}->{e.to_id}"
            )
        for st in [*stages, reuse]:
            _resolve({n.ident for n in nodes}, st, f"seed {seed} {mode}")

    # chain wiring: direct in contracted, reachable in expanded
    cids = {n.unique_id for n in cnodes}
    xids = {n.unique_id for n in xnodes}
    cdirect = {(e.from_id, e.to_id) for e in cedges}
    for a, b in zip(stages, stages[1:]):
        ca, cb = (_resolve(cids, s, f"seed {seed}") for s in (a, b))
        assert (ca, cb) in cdirect, f"seed {seed}: no contracted edge {a}->{b}"
        assert _reachable(
            xedges, _resolve(xids, a, f"seed {seed}"), _resolve(xids, b, f"seed {seed}")
        ), f"seed {seed}: {b} unreachable from {a} in expanded mode"

    # semanticHash substitution: the reuse stage never names any view,
    # yet its textual copy of the base plan must collapse onto a stage
    # view (stages[0], or a later stage if one happens to be
    # hash-identical to the base) instead of re-deriving base tables —
    # for permanent bases this exercises the viewText re-parse +
    # re-analysis path (SQLFlow.scala:66-74)
    creuse = _resolve(cids, reuse, f"seed {seed}")
    stage_ids = {_resolve(cids, s, f"seed {seed}") for s in stages}
    cpreds = {e.from_id for e in cedges if e.to_id == creuse}
    assert cpreds and cpreds <= stage_ids, (
        f"seed {seed}: hash substitution missed — reuse stage fed by"
        f" {cpreds or 'nothing'} instead of a stage view"
    )
    assert _reachable(
        xedges,
        _resolve(xids, stages[0], f"seed {seed}"),
        _resolve(xids, reuse, f"seed {seed}"),
    ), f"seed {seed}: reuse stage unreachable from base in expanded mode"

    # permanent-table leaves must carry the catalog createTime prop
    # (reference setPlanPropsIn, SQLFlow.scala:288-314)
    if perm:
        perm_leaves = [
            n
            for n in xnodes
            if f"{_DB}." in n.ident
            and n.ident.split(".")[-1] in fuzz.FUZZ_TABLES
        ]
        assert perm_leaves, (
            f"seed {seed}: no permanent-table leaves under {perm}"
        )
        for n in perm_leaves:
            props = getattr(n, "props", {}) or {}
            assert props.get("createTime", "").endswith("Z"), (
                f"seed {seed}: {n.ident} missing createTime prop"
            )

    # mode agreement on source views/tables feeding the DAG
    def _srcs(nodes, edges):
        targets = {e.from_id for e in edges}
        return {
            n.ident.split(".")[-1]
            for n in nodes
            if n.unique_id in targets
            and n.ident.split(".")[-1] in fuzz.FUZZ_TABLES
        }

    assert _srcs(cnodes, cedges) <= _srcs(xnodes, xedges), (
        f"seed {seed}: contracted invented sources expanded lacks"
    )