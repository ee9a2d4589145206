"""Pin the CORRECTNESS-window ordering: the driver checks the first 50
registered entries, so registration order is a product contract, not an
import accident."""

from __future__ import annotations

import pytest

from parquet_ingestor_spark.queries import (
    REGISTRY,
    _WINDOW_FIRST,
    _ensure_loaded,
)

_ensure_loaded()


def test_window_first_names_all_exist():
    missing = [n for n in _WINDOW_FIRST if n not in REGISTRY]
    assert not missing, missing


def test_registry_leads_with_window_order():
    names = list(REGISTRY)
    assert tuple(names[: len(_WINDOW_FIRST)]) == _WINDOW_FIRST


def test_round10_priorities_inside_the_50_window():
    window = set(list(REGISTRY)[:50])
    # round-10 rule: entries whose execution path the optimization
    # round restructured lead the window so the driver re-hashes the
    # new plans
    assert {
        "text_lm_perplexity",
        "events_cm_counts",
        "dedup_clusters",
        "dedup_keep_best",
        "dedup_clusters_incremental",
        "corpus_line_dedup",
    } <= set(list(REGISTRY)[:6])
    # then the round-5 cohort remainder (spot anchors), completing
    # the rotation round 9 deferred
    assert {
        "dq_orders_constraints",
        "snapshot_diff_orders",
        "q54_event_funnel",
        "q75_resample_ffill",
    } <= window
    # then the round-6 cohort head (spot anchors)
    assert {
        "dedup_minhash_lsh",
        "sim_ivfpq_topk",
        "corpus_bloom_seen",
        "q86_association_rules",
        "q88_moving_average",
    } <= window


def test_window_covers_all_stale_rows_except_documented_deferral():
    """Round-9 policy: NO shape-stale rows exist (round 8 closed
    them), so the window is pure least-recently-checked rotation.
    After this round no entry's latest driver row may predate round
    4: the 2 BPE promotions + 4 round-3-deferred + all 26 remaining
    round-4-cohort entries hold slots. The only documented skip is the
    permanently rows-only entry (unigram_lm_train — a window slot buys
    it no hash check; its differential verification lives in
    test_corpus.py::test_unigram_lm_train_matches_python_reference).
    No silently forgotten entries: after the round-10 rotation, every
    oracle entry whose latest driver row predates round 6 holds a
    slot."""
    import json
    from pathlib import Path

    names = list(REGISTRY)
    window = set(names[:50])
    repo = Path(__file__).resolve().parents[1]
    latest: dict[str, int] = {}
    for r in range(1, 10):
        f = repo / f"CORRECTNESS_r0{r}.json"
        if f.exists():
            for k in json.loads(f.read_text()):
                latest[k] = max(latest.get(k, 0), r)
    if latest:
        stale = [
            n
            for n in names
            if latest.get(n, 0) <= 5
            and n not in window
            and REGISTRY[n].oracle is not None  # documented rows-only skips
        ]
        assert not stale, stale
    # the window is exactly the driver's budget — no padding slack
    assert len(_WINDOW_FIRST) == 50


def test_every_entry_ever_driver_checked():
    """Round-6 cleared the never-checked backlog; keep it cleared —
    any NEW registry entry must take a window slot in the round it
    lands (computed from CORRECTNESS_r0{1..6})."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    checked: set[str] = set()
    for r in (1, 2, 3, 4, 5, 6, 7):
        f = repo / f"CORRECTNESS_r0{r}.json"
        if f.exists():
            checked |= set(json.loads(f.read_text()))
    if not checked:
        return  # artifacts absent (fresh clone)
    names = list(REGISTRY)
    never = [n for n in names if n not in checked]
    outside = [n for n in never if n not in set(names[:50])]
    assert not outside, outside


def test_every_entry_has_fn_and_consistent_oracle_contract():
    for name, q in REGISTRY.items():
        assert callable(q.fn), name
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper(), name


def _uncast_round_sites(sql: str) -> list[str]:
    """Every ``round(`` occurrence in *sql* that is NOT immediately
    wrapped in an integer CAST (``CAST(round(...) AS BIGINT/INT)``)."""
    import re

    out = []
    for m in re.finditer(r"round\s*\(", sql, re.IGNORECASE):
        start = m.start()
        back = (
            sql[max(0, start - 60) : start]
            .upper()
            .replace(" ", "")
            .replace("\n", "")
        )
        depth, i = 0, m.end() - 1
        while i < len(sql):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        follow = (
            sql[i : i + 100].upper().replace(" ", "").replace("\n", "")
        )
        if back.endswith("CAST(") and (
            follow.startswith(")ASBIGINT") or follow.startswith(")ASINT")
        ):
            continue
        out.append(sql[max(0, start - 25) : i + 1].replace("\n", " ")[-70:])
    return out


def test_no_oracle_emits_round_of_double():
    """The round-5 incident rule, class-wide: no oracle-backed entry
    may carry a ``round()`` that stays a double — every round() in an
    oracle must be an integer quantization (``CAST(round(x * 10^d) AS
    BIGINT)``). A rounded double's canonicalization is environment-
    sensitive (engine round(x, d) picks an implementation-defined
    nearest double; driver-side float formatting has its own version
    skew) — corpus_neyman_allocation shipped the r5 red row exactly
    this way while being bit-identical under the local gate. Integer
    outputs cannot canonicalize differently. Spark-side twin: use
    functions.int_e, never a bare F.round(x, d) output column."""
    bad = {
        name: _uncast_round_sites(q.oracle)
        for name, q in REGISTRY.items()
        if q.oracle is not None and _uncast_round_sites(q.oracle)
    }
    assert not bad, bad


def _lint_sf_dir() -> str:
    """The DESCRIBE lints only need the view schemas, so any generated
    SF works; skip (like test_every_entry_ever_driver_checked) rather
    than error on a machine without the driver's testdata fixture
    (round-7 advisory)."""
    import os

    path = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"testdata fixture absent: {path}")
    return path


def test_no_oracle_emits_hugeint_columns():
    """The round-6 incident rule, class-wide: no oracle may have an
    output column DuckDB types HUGEINT/UHUGEINT. DuckDB's pandas
    conversion (the driver's fetch path) turns HUGEINT into float64
    with precision loss above 2^53, so the driver hashes oracle
    floats against Spark's exact longs — rows and schema match, hash
    doesn't. SUM(BIGINT), integer ``//``, and list_sum(BIGINT) all
    type HUGEINT; wrap each such output in CAST(... AS BIGINT).
    DESCRIBE only plans (no execution), so linting all oracles is
    cheap."""
    from parquet_ingestor_spark.testing import (
        duck_connect,
        oracle_hugeint_cols,
    )

    con = duck_connect(_lint_sf_dir())
    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        huge = oracle_hugeint_cols(con, q.oracle)
        if huge:
            bad[name] = huge
    assert not bad, bad


def test_oracle_outputs_limited_to_pandas_safe_types():
    """Class-wide extension of the HUGEINT/DATE lint: every oracle
    output column must be one of the five types whose pandas round-
    trip is loss-free and engine-symmetric (BIGINT, INTEGER, VARCHAR,
    DOUBLE, BOOLEAN). Everything else has a known divergence path —
    HUGEINT→float64, DATE→datetime64-vs-date-objects, TIMESTAMP's
    ns-vs-us physical types, DECIMAL scale objects, LIST→ndarray —
    and must be quantized/formatted before the SELECT list."""
    from parquet_ingestor_spark.testing import duck_connect

    safe = {"BIGINT", "INTEGER", "VARCHAR", "DOUBLE", "BOOLEAN"}
    con = duck_connect(_lint_sf_dir())
    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        desc = con.execute(f"DESCRIBE ({q.oracle})").fetchall()
        off = [(c, t) for c, t, *_ in desc if t.upper() not in safe]
        if off:
            bad[name] = off
    assert not bad, bad


def test_cast_divergence_witnesses_pin_the_varchar_hop(spark):
    """Pin WHY the embeddings/HHI oracles route decimal casts through
    DOUBLE on the way in and VARCHAR on the way out (the round-9
    emb_pca_project divergence, COVERAGE.md round-9 addendum). Two
    concrete witnesses where DuckDB's direct cast disagrees with
    Spark while the routed form agrees — if either assertion ever
    flips (a DuckDB upgrade fixing its cast paths), the hops can be
    simplified away; until then removing them reintroduces a
    quantization-boundary hash FAIL that only fires at sf0.1.
    """
    import duckdb

    con = duckdb.connect()

    # Cause 1: float32 -> DECIMAL directly multiplies by 10^scale in
    # FLOAT arithmetic (0.55983758 * 1e8 in float32 = 55983756);
    # Spark implicitly widens float -> double first.
    f32 = 0.5598375797271729  # exact float32 value
    direct = con.execute(
        "SELECT CAST(CAST(? AS FLOAT) AS DECIMAL(18,8))", [f32]
    ).fetchone()[0]
    routed = con.execute(
        "SELECT CAST(CAST(CAST(? AS FLOAT) AS DOUBLE) AS DECIMAL(18,8))",
        [f32],
    ).fetchone()[0]
    spark_val = spark.sql(
        f"SELECT CAST(CAST({f32} AS FLOAT) AS DECIMAL(18,8)) AS v"
    ).collect()[0].v
    assert str(direct) == "0.55983756"      # the trap exists
    assert str(routed) == "0.55983758"      # the fix is right
    assert str(spark_val) == "0.55983758"   # and matches Spark

    # Cause 2: scaled DECIMAL -> DOUBLE divides int128 by 10^scale in
    # double arithmetic (doubly rounded); the VARCHAR round-trip and
    # Spark's Decimal.toDouble are both correctly rounded.
    dec = "38236.3369902702739528"
    direct2, hop2 = con.execute(
        "SELECT CAST(CAST(? AS DECIMAL(28,16)) AS DOUBLE), "
        "CAST(CAST(CAST(? AS DECIMAL(28,16)) AS VARCHAR) AS DOUBLE)",
        [dec, dec],
    ).fetchone()
    spark2 = spark.sql(
        f"SELECT CAST(CAST('{dec}' AS DECIMAL(28,16)) AS DOUBLE) AS v"
    ).collect()[0].v
    correctly_rounded = float(dec)
    assert direct2.hex() != correctly_rounded.hex()  # the trap exists
    assert hop2.hex() == correctly_rounded.hex()     # the fix is right
    assert spark2.hex() == correctly_rounded.hex()   # and matches Spark
