"""End-to-end flagship pipeline tests: Spark plan vs pure-Python oracle.

The oracle is ``compute_match_score`` + an exact reimplementation of the
reference's top-k/threshold/label loop (``main.py:163-209``), run over the
in-repo roster and username fixtures (``tests/fixtures/README.md``).
"""

from __future__ import annotations

import csv
from pathlib import Path

import pytest

from name_match_ml_spark.functions.scoring import (
    SCORE_THRESHOLD,
    TOTAL_MATCHES_TO_DISPLAY,
    compute_match_score,
)
from name_match_ml_spark.operators.matching import (
    format_output,
    match_usernames,
    prepare_employees,
    prepare_usernames,
    score_candidates,
)
from name_match_ml_spark.sources.csv import employees_from_df, load_employees, load_usernames

FIXTURES = Path(__file__).parent / "fixtures"
REF_EMPLOYEES = str(FIXTURES / "employee.csv")
REF_USERNAMES = str(FIXTURES / "usernames.csv")


def _ref_rows():
    with open(REF_EMPLOYEES) as f:
        emps = [
            (r["EMP_ID"], r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)
        ]
    with open(REF_USERNAMES) as f:
        unames = [r["username"] for r in csv.DictReader(f)]
    return emps, unames


def _oracle_matches(emps, unames):
    """Pure-Python mirror of main.py:163-209 with the engine's deterministic
    tiebreak (score desc, emp_id asc as string)."""
    out = {}
    for uname in unames:
        scored = []
        for emp_id, first, last in emps:
            ename = f"{first} {last}"
            s = compute_match_score(uname, ename, first, last, emp_id)
            scored.append((emp_id, ename, s))
        scored.sort(key=lambda t: (-t[2], t[0]))
        top = [t for t in scored[:TOTAL_MATCHES_TO_DISPLAY] if t[2] >= SCORE_THRESHOLD]
        rows = []
        rank, prev = 1, None
        labels = {1: "HIGH CONFIDENCE", 2: "2nd HIGH CONFIDENCE",
                  3: "3rd HIGH CONFIDENCE", 4: "NOT SURE"}
        for emp_id, ename, s in top:
            if prev is not None and s < prev:
                rank += 1
            rows.append((emp_id, ename, round(s, 6), labels.get(rank, "")))
            prev = s
        out[uname] = rows
    return out


@pytest.fixture(scope="module")
def ref_dfs(spark):
    employees = load_employees(spark, REF_EMPLOYEES)
    usernames = load_usernames(spark, REF_USERNAMES)
    return employees, usernames


def test_employee_ingestion_canonicalizes(ref_dfs):
    employees, _ = ref_dfs
    assert employees.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    rows = employees.collect()
    assert len(rows) == 110
    by_id = {r.emp_id: r for r in rows}
    assert by_id["7"].employee_name == "Swati Patel"
    assert by_id["7"].first_name == "Swati"


def test_alias_normalization(spark):
    df = spark.createDataFrame(
        [("1", "Swati", "Patel"), ("2", "Neha", "Tripathi")],
        ["Employee ID", "fname", "surname"],
    )
    out = employees_from_df(df)
    assert out.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    rows = {r.emp_id: r for r in out.collect()}
    assert rows["1"].employee_name == "Swati Patel"


def test_fullname_split_derivation(spark):
    df = spark.createDataFrame([("1", "Swati Patel"), ("2", "Neha")], ["id", "Name"])
    out = employees_from_df(df).collect()
    by_id = {r.emp_id: r for r in out}
    assert (by_id["1"].first_name, by_id["1"].last_name) == ("Swati", "Patel")
    # single-token name: last_name degrades to '' (main.py:118-120 semantics)
    assert (by_id["2"].first_name, by_id["2"].last_name) == ("Neha", "")


def test_ingest_error_modes(spark):
    """Default fails loudly; on_error='empty' reproduces the reference's
    degrade-to-empty semantics (main.py:131-133) with the canonical
    schema."""
    import pytest as _pytest

    bad = spark.createDataFrame([("x",)], ["unrelated"])
    with _pytest.raises(ValueError, match="missing columns"):
        employees_from_df(bad)
    out = employees_from_df(bad, on_error="empty")
    assert out.columns == ["emp_id", "first_name", "last_name", "employee_name"]
    assert out.count() == 0
    with _pytest.raises(ValueError, match="on_error"):
        employees_from_df(bad, on_error="bogus")


def test_flagship_matches_oracle(spark, ref_dfs):
    employees, usernames = ref_dfs
    emps, unames = _ref_rows()
    oracle = _oracle_matches(emps, unames)

    result = match_usernames(usernames, employees)
    got = {}
    for r in result.collect():
        got.setdefault(r.username, []).append(
            (r.emp_id, r.emp_name, round(r.score, 6), r.match_type, r.match_rank)
        )

    assert set(got) == set(unames)
    for uname in unames:
        want = oracle[uname]
        rows = sorted(got[uname], key=lambda t: (-t[2], t[0]))
        if not want:
            assert rows == [("N/A", "USER NOT FOUND", 0.0, "USER NOT FOUND", None)], uname
        else:
            assert [(e, n, s, t) for e, n, s, t, _ in rows] == want, uname


def test_golden_output_rows(spark, ref_dfs):
    """assets/example.png rows through the full distributed pipeline,
    fed as their own upload as in the screenshot."""
    employees, _ = ref_dfs
    usernames = spark.createDataFrame(
        [("swati.patel",), ("harshm37",), ("n.tripathi25",)], ["username"]
    )
    out = format_output(match_usernames(usernames, employees))
    rows = {(r.username, r.emp_id): r for r in out.collect()}
    golden = [
        ("swati.patel", "7", "100.00%", "HIGH CONFIDENCE"),
        ("swati.patel", "60", "79.80%", "2nd HIGH CONFIDENCE"),
        ("harshm37", "103", "76.90%", "HIGH CONFIDENCE"),
        ("harshm37", "9", "76.90%", "HIGH CONFIDENCE"),
        ("harshm37", "14", "66.30%", "2nd HIGH CONFIDENCE"),
        ("n.tripathi25", "25", "80.40%", "HIGH CONFIDENCE"),
    ]
    for uname, emp_id, score, label in golden:
        r = rows[(uname, emp_id)]
        assert r.confidence_score == score, (uname, emp_id)
        assert r.match_type == label, (uname, emp_id)


def test_blocked_candidates_recall_on_matches(spark, ref_dfs):
    """Blocking must retain every pair the cross product scores ≥ threshold
    on the fixtures (the blocking keys subsume the scorer's own signals for
    real name-shaped usernames)."""
    employees, usernames = ref_dfs
    full = _found(match_usernames(usernames, employees, blocking=False))
    blocked = _found(match_usernames(usernames, employees, blocking=True))
    full_pairs = {(r.username, r.emp_id, r.score) for r in full.collect()}
    blocked_pairs = {(r.username, r.emp_id, r.score) for r in blocked.collect()}
    missing = {p for p in full_pairs if p[2] >= 65.0} - blocked_pairs
    assert not missing, f"blocking lost high-score pairs: {sorted(missing)[:5]}"
    # bounded loss below 65: blocking keeps the vast majority overall
    assert len(blocked_pairs) >= 0.9 * len(full_pairs)


def test_score_candidates_matches_python_scorer(spark, ref_dfs):
    """Distributed decomposed scorer ≡ pure-Python compute_match_score on
    every (username × employee) pair."""
    employees, usernames = ref_dfs
    pairs = prepare_usernames(usernames.limit(25)).crossJoin(
        prepare_employees(employees)
    )
    scored = score_candidates(pairs).select(
        "username", "emp_id", "employee_name", "first_name", "last_name", "score"
    )
    for r in scored.collect():
        want = compute_match_score(
            r.username, r.employee_name, r.first_name, r.last_name, r.emp_id
        )
        assert r.score == pytest.approx(want, abs=1e-9), (r.username, r.emp_id)


def test_score_candidates_full_cross_product(spark, ref_dfs):
    """The batch kernels in the scoring UDF ≡ the scalar oracle on the
    whole fixture cross product (every username × every roster row,
    edge usernames included)."""
    employees, usernames = ref_dfs
    pairs = prepare_usernames(usernames).crossJoin(prepare_employees(employees))
    rows = score_candidates(pairs).select(
        "username", "emp_id", "employee_name", "first_name", "last_name", "score"
    ).collect()
    emps, unames = _ref_rows()
    assert len(rows) == len(emps) * len(unames)
    for r in rows:
        want = compute_match_score(
            r.username, r.employee_name, r.first_name, r.last_name, r.emp_id
        )
        assert r.score == pytest.approx(want, abs=1e-9), (r.username, r.emp_id)


def _found(matches):
    """Drop the NOT-FOUND sentinels: the matches that clear the threshold."""
    return matches.filter(matches.match_type != "USER NOT FOUND")


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_blocking_auto_select(spark, ref_dfs):
    """``blocking=None`` (default) picks the exact broadcast-cross path at
    reference scale and blocked candidates when the estimated pair product
    explodes — a default caller never gets an unbounded cross join
    (VERDICT r2 next-round #4)."""
    from pyspark.sql import functions as F

    employees, usernames = ref_dfs

    # ~110 employees × ~40 usernames → exact cross, with the roster
    # broadcast (bounded build side — allowed here, rejected by the
    # guardrail test only for unbounded declared plans).
    small_plan = _executed_plan(match_usernames(usernames, employees))
    assert "BroadcastNestedLoopJoin" in small_plan
    assert "_bkey" not in small_plan

    # 30k × 30k ≈ 9e8 estimated pairs → auto must choose blocking: the
    # candidate join is a broadcast/shuffle HASH join on _bkey and no
    # cross-product node appears anywhere.
    big_emp = spark.range(30_000).select(
        F.col("id").cast("string").alias("emp_id"),
        F.concat(F.lit("fn"), F.col("id") % 997, F.lit(" ln"), F.col("id") % 991).alias(
            "employee_name"
        ),
        F.concat(F.lit("fn"), F.col("id") % 997).alias("first_name"),
        F.concat(F.lit("ln"), F.col("id") % 991).alias("last_name"),
    )
    big_usr = spark.range(30_000).select(
        F.concat(F.lit("fn"), F.col("id") % 997, F.lit("."), F.lit("ln"), F.col("id") % 991)
        .alias("username")
    )
    big_plan = _executed_plan(match_usernames(big_usr, big_emp))
    assert "_bkey" in big_plan
    assert "BroadcastNestedLoopJoin" not in big_plan
    assert "CartesianProduct" not in big_plan


def test_hot_key_cap_bounds_skewed_blocking(spark):
    """One surname covering 30% of both sides is a quadratic pair bomb
    (f_u x f_e candidates through one blocking key); the df cap must drop
    the hot keys so no key contributes more than cap^2 pairs, while pairs
    that share any non-hot key (the real matches) survive
    (VERDICT r2 next-round #5)."""
    from name_match_ml_spark.operators.matching import (
        _E_TEXT_FULL,
        _U_TEXT,
        prepare_employees,
        prepare_usernames,
    )
    from name_match_ml_spark.plans.blocking import blocked_candidates

    # pure-letter names (digits are token separators in the username
    # normalizer) over soundex-diverse consonants so only the shared
    # surname is hot
    def _fn(i: int) -> str:
        letters = "bcdlmr"
        return "".join(letters[(i // 6**k) % 6] for k in range(4))

    n, hot = 1296, 400  # ~30% share surname "patel"
    emp_rows = [
        (str(i), _fn(i), "Patel" if i < hot else f"x{_fn(i)}") for i in range(n)
    ]
    usr_rows = [
        (f"{_fn(i)}.patel" if i < hot else f"{_fn(i)}.x{_fn(i)}",) for i in range(n)
    ]
    employees = spark.createDataFrame(
        emp_rows, ["emp_id", "first_name", "last_name"]
    ).selectExpr("*", "concat(first_name, ' ', last_name) as employee_name")
    usernames = spark.createDataFrame(usr_rows, ["username"])

    u_texts = prepare_usernames(usernames).select(*_U_TEXT).dropDuplicates(["u_norm"])
    e_texts = (
        prepare_employees(employees).select(*_E_TEXT_FULL).dropDuplicates(
            ["e_name", "e_first", "e_last"]
        )
    )

    uncapped = blocked_candidates(u_texts, e_texts, hot_key_cap=None).count()
    assert uncapped >= hot * hot  # the bomb is real: >=360k pairs via tok:patel

    capped_df = blocked_candidates(u_texts, e_texts, hot_key_cap=300)
    capped = capped_df.count()
    # the hot surname's f_u*f_e block is gone (every key that survives
    # has df <= cap on both sides, so per-key work is <= cap^2 by
    # construction); a few hot pairs legitimately survive through a
    # shared non-hot key, hence the 0.9 factor.  What remains comes from
    # per-name keys, linear in n.
    assert uncapped - capped >= 0.9 * hot * hot
    assert capped <= 60 * n
    # recall through non-hot keys: a true pair still blocks via its
    # unique first-name token even with every surname key dropped
    fn7 = _fn(7)
    survivors = {
        (r.u_norm, r.e_name)
        for r in capped_df.filter(f"u_norm = '{fn7}.patel'").collect()
    }
    assert (f"{fn7}.patel", f"{fn7} patel") in survivors


def test_blocking_auto_select_reads_spark_threshold(spark, ref_dfs):
    """Auto-select reads the broadcast threshold in bytes from Spark's own
    conf: at reference scale a suffixed size ('100MB') keeps the exact
    broadcast-cross path, and '-1' (broadcast disabled) forces blocking."""
    employees, usernames = ref_dfs
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "100MB")
        plan = _executed_plan(match_usernames(usernames, employees))
        assert "BroadcastNestedLoopJoin" in plan
        assert "_bkey" not in plan

        spark.conf.set(key, "-1")
        plan = _executed_plan(match_usernames(usernames, employees))
        assert "_bkey" in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set(key, saved)
