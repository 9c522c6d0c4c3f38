"""Seeded inputs and one closed-loop pass per benchmark workload.

Every input is generated inside the JVM from the benchmark seed with the
engine's hash-RNG (``functions.rng.u_sql``), so the same seed gives the
same rows on any partitioning and no parquet is scanned. The program only
receives the generated DataFrames.

Spatial sizes are the sf0.1 bench sizes (456,861 points, 150,000
addresses in the 20 x 10 km box) times a per-workload ``scale``; the box
shrinks with sqrt(scale), so point and address density, and with them the
candidate pairs per point, stay those of sf0.1.

Each workload exposes

* ``build(spark, seed, scale)`` -> ``Inputs`` (cached and counted);
* ``run(inputs)`` -> ``Result``: the untraced pass, one closed-loop
  request whose result is collected before it returns;
* ``run_traced(inputs, tracer)`` -> ``Result``: the same work, one public
  layer call at a time, each materialized inside a named span; the frame of
  a layer whose cell join is counted is kept on the tracer (``Tracer.keep``).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from maskmypy_spark import analysis
from maskmypy_spark.functions import rng
from maskmypy_spark.operators.dedup import curate_near
from maskmypy_spark.operators.donut import donut
from maskmypy_spark.operators.locationswap import locationswap
from maskmypy_spark.operators.voronoi import voronoi
from maskmypy_spark.sources import tables

SF01_POINTS = 456_861
SF01_ADDRESSES = 150_000
SF01_DOCS = 200_000
HOT_CELL = 250.0  # side of the hot block, = distance_join's cell at r=500
HOT_EVERY = 10  # every 10th point and address lands in the hot block
LOW, HIGH = 100.0, 500.0  # donut / locationswap displacement band (m)
MIN_K = 10
GROUP = 7  # docs i..i+6: one 3-member near-dup group + 4 unique docs
KEPT_PER_GROUP = 5

# Rng draw-site tags of the generator; disjoint from the engine's own.
TAG_PX, TAG_PY, TAG_AX, TAG_AY = 201, 202, 203, 204


@dataclass
class Inputs:
    frames: dict[str, DataFrame]
    rows: int  # input rows one pass processes (points or docs)
    mask_seed: int


@dataclass
class Result:
    digest: str  # must be identical across passes and runs of one seed
    problems: list[str]  # structural invariants that failed


def _xor_hash(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(bit_xor of the per-row xxhash64 over ``cols``, row count): an
    order-free digest that touches every output column."""
    row = df.agg(
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))"), F.count(F.lit(1))
    ).collect()[0]
    return int(row[0] or 0), int(row[1])


def _mask_seed(seed: int) -> int:
    # masks treat a falsy seed as "draw a random one": keep it non-zero
    return 1000 + seed


def _points(
    spark: SparkSession, seed: int, scale: float, hot: bool
) -> tuple[DataFrame, DataFrame, int]:
    par = spark.sparkContext.defaultParallelism
    n_pts = max(1, round(SF01_POINTS * scale))
    n_addr = max(1, round(SF01_ADDRESSES * scale))
    w = tables.BOX_W * math.sqrt(scale)
    h = tables.BOX_H * math.sqrt(scale)
    hx = HOT_CELL * math.floor(w / 2 / HOT_CELL)
    hy = HOT_CELL * math.floor(h / 2 / HOT_CELL)

    def coords(tx: int, ty: int) -> tuple[str, str]:
        x = f"({rng.u_sql('id', tx, seed)}) * {rng.flit(w)}"
        y = f"({rng.u_sql('id', ty, seed)}) * {rng.flit(h)}"
        if hot:
            # the BENCH/exp_skew.py fixture: every HOT_EVERY-th key moves
            # into one HOT_CELL block, spread by its own coordinate
            def moved(v: str, origin: float) -> str:
                return (
                    f"CASE WHEN id % {HOT_EVERY} = 0 THEN {rng.flit(origin)} + "
                    f"pmod({v}, {rng.flit(HOT_CELL)}) ELSE {v} END"
                )

            x, y = moved(x, hx), moved(y, hy)
        return x, y

    px, py = coords(TAG_PX, TAG_PY)
    ax, ay = coords(TAG_AX, TAG_AY)
    pts = spark.range(0, n_pts, 1, 2 * par).selectExpr(
        "id AS pid", f"{px} AS x", f"{py} AS y"
    )
    addr = spark.range(0, n_addr, 1, par).selectExpr(
        "id AS aid", f"{ax} AS ax", f"{ay} AS ay"
    )
    return pts, addr, n_pts


def _cache(frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    out = {k: v.cache() for k, v in frames.items()}
    for v in out.values():
        v.count()
    return out


def build_points(spark: SparkSession, seed: int, scale: float, hot: bool = False) -> Inputs:
    pts, addr, n = _points(spark, seed, scale, hot)
    return Inputs(_cache({"pts": pts, "addr": addr}), n, _mask_seed(seed))


# --- anonymize: donut -> k_anonymity_address(slim) -> k_satisfaction ---


def _masked(inp: Inputs) -> DataFrame:
    return donut(
        analysis.with_original(inp.frames["pts"]), LOW, HIGH, seed=inp.mask_seed
    )


def _k(inp: Inputs, masked: DataFrame) -> DataFrame:
    disp = analysis.displacement_from_payload(masked)
    return analysis.k_anonymity_address(
        inp.frames["pts"], masked.drop("_orig_x", "_orig_y"), inp.frames["addr"],
        max_radius=HIGH, disp=disp, slim=True,
    )


def _anonymize_result(inp: Inputs, k_sat: float, obs: Observation) -> Result:
    got = obs.get
    problems = []
    if not 0.0 <= k_sat <= 1.0:
        problems.append(f"k_satisfaction {k_sat} outside [0, 1]")
    if got["n"] != inp.rows:
        problems.append(f"k_anonymity rows {got['n']} != points {inp.rows}")
    return Result(f"{k_sat:.3f}:{int(got['h'])}", problems)


def _observed(k: DataFrame) -> tuple[DataFrame, Observation]:
    # the digest rides the satisfaction job as an Observation: no extra job
    obs = Observation()
    return k.observe(
        obs,
        F.expr("bit_xor(xxhash64(pid, k_anonymity))").alias("h"),
        F.count(F.lit(1)).alias("n"),
    ), obs


def run_anonymize(inp: Inputs) -> Result:
    k, obs = _observed(_k(inp, _masked(inp)))
    k_sat = float(analysis.k_satisfaction(k, MIN_K).collect()[0][0])
    return _anonymize_result(inp, k_sat, obs)


def traced_anonymize(inp: Inputs, tr) -> Result:
    with tr.span("donut"):
        m = _masked(inp).localCheckpoint(eager=True)
    tr.count("donut.rows_out", m.count())
    with tr.span("analysis.k_anonymity_address"):
        k = tr.keep("distance_join", _k(inp, m)).localCheckpoint(eager=True)
    k, obs = _observed(k)
    with tr.span("analysis.k_satisfaction"):
        k_sat = float(analysis.k_satisfaction(k, MIN_K).collect()[0][0])
    return _anonymize_result(inp, k_sat, obs)


# --- swap_knn: locationswap then voronoi ---


def _swap(inp: Inputs) -> DataFrame:
    return locationswap(inp.frames["pts"], LOW, HIGH, inp.frames["addr"], seed=inp.mask_seed)


def _swap_knn_result(inp: Inputs, swap: DataFrame, vor: DataFrame) -> Result:
    hs, ns = _xor_hash(swap, swap.columns)
    hv, nv = _xor_hash(vor, vor.columns)
    problems = [
        f"{name} emitted {got} rows for {inp.rows} points"
        for name, got in (("locationswap", ns), ("voronoi", nv))
        if got != inp.rows
    ]
    return Result(f"{hs}:{hv}", problems)


def run_swap_knn(inp: Inputs) -> Result:
    return _swap_knn_result(inp, _swap(inp), voronoi(inp.frames["pts"]))


def traced_swap_knn(inp: Inputs, tr) -> Result:
    with tr.span("locationswap"):
        swap = tr.keep("locationswap", _swap(inp)).localCheckpoint(eager=True)
    with tr.span("voronoi"):
        vor = voronoi(inp.frames["pts"]).localCheckpoint(eager=True)
    return _swap_knn_result(inp, swap, vor)


# --- curate_docs: dedup.curate_near over a planted near-dup corpus ---


def build_docs(spark: SparkSession, seed: int, scale: float) -> Inputs:
    """bench_extra._docs, seeded: doc i is 40 pseudo-random alpha words
    drawn from md5(seed, group id, k); docs with i % 7 in {1, 2} copy their
    group parent i - i % 7 and append a 1-word suffix (shingle-3 Jaccard
    ~0.93 > curate_near's 0.8), so every 7 docs keep exactly 5."""
    par = spark.sparkContext.defaultParallelism
    n = max(GROUP, GROUP * round(SF01_DOCS * scale / GROUP))
    docs = (
        spark.range(0, n, 1, 4 * par)
        .selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 7 IN (1, 2) THEN id - id % 7 ELSE id END AS _b",
        )
        .withColumn(
            "text",
            F.expr(
                "concat_ws(' ', transform(sequence(1, 40), k -> "
                "translate(substr(md5(concat(cast(_b AS STRING), '-', "
                f"cast(k AS STRING), '-{seed}')), 1, 7), '0123456789', 'abcdefghij')))"
            ),
        )
        .withColumn(
            "text",
            F.expr(
                "CASE WHEN doc_id % 7 IN (1, 2) "
                "THEN concat(text, ' v', doc_id % 7) ELSE text END"
            ),
        )
        .select("doc_id", "text")
    )
    return Inputs(_cache({"docs": docs}), n, _mask_seed(seed))


def _docs_result(inp: Inputs, out: DataFrame) -> Result:
    h, kept = _xor_hash(out, out.columns)
    want = inp.rows // GROUP * KEPT_PER_GROUP
    problems = [] if kept == want else [f"curate_near kept {kept} docs, want {want}"]
    return Result(str(h), problems)


def run_docs(inp: Inputs) -> Result:
    return _docs_result(inp, curate_near(inp.frames["docs"]))


def traced_docs(inp: Inputs, tr) -> Result:
    with tr.span("dedup.curate_near"):
        out = curate_near(inp.frames["docs"]).localCheckpoint(eager=True)
    return _docs_result(inp, out)


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float  # share of the sf0.1 sizes one pass processes
    build: Callable[[SparkSession, int, float], Inputs]
    run: Callable[[Inputs], Result]
    run_traced: Callable[[Inputs, object], Result]
    conf: str = ""  # extra Spark conf, applied at session start


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "anonymize_uniform", 0.1, build_points, run_anonymize,
            traced_anonymize,
        ),
        Workload(
            "swap_knn_uniform", 0.05, build_points, run_swap_knn,
            traced_swap_knn,
        ),
        Workload(
            "anonymize_hotcell", 0.1,
            lambda spark, seed, scale: build_points(spark, seed, scale, hot=True),
            run_anonymize, traced_anonymize,
            # the at-scale sort-merge shape: the hot cell lands on one reducer
            conf="spark.sql.autoBroadcastJoinThreshold=-1",
        ),
        Workload(
            "curate_docs", 0.02, build_docs, run_docs, traced_docs,
        ),
    )
}
