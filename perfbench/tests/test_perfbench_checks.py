"""Failure counting: every step execution is one attempt; an exception, a
broken invariant, an oracle mismatch or a result that differs from the
checked pass is one failure."""

import duckdb
import pytest

import run
from workloads import Step


def _pass(index, rows, errors=(), traced=False, wall=1.0):
    p = run.Pass(index, traced)
    p.rows = {k: v for k, v in rows.items()}
    p.columns = {k: ["n"] for k in rows}
    p.errors = dict(errors)
    p.wall = wall
    return p


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _steps():
    return [Step("q", "operators.relational", build=lambda: None,
                 oracle="SELECT * FROM (VALUES (1), (2)) t(n)"),
            Step("inv", "operators.pipelines", build=lambda: None,
                 check=lambda rows: None if len(rows) == 1 else "not one row"),
            Step("pub", "sources.publish", build=lambda: None, volatile=True)]


def test_all_green(duck):
    checked = _pass(0, {"q": [(2,), (1,)], "inv": [(7,)], "pub": []})
    later = [_pass(1, {"q": [(1,), (2,)], "inv": [(7,)], "pub": []})]
    out = run.check_outputs(_steps(), checked, later, duck)
    assert (out["attempted"], out["failed"]) == (6, 0)
    assert (out["oracle_matched"], out["invariants_held"],
            out["hashes_matched"]) == (1, 1, 2)


def test_each_kind_of_failure_counts_once(duck):
    checked = _pass(0, {"q": [(1,), (3,)], "inv": [(7,), (8,)], "pub": []})
    later = [_pass(1, {"q": [(1,), (3,)], "inv": [(7,)], "pub": []},
                   errors={"pub": "IOError: disk full"})]
    out = run.check_outputs(_steps(), checked, later, duck)
    # oracle mismatch + broken invariant on the checked pass, and the
    # exception on the later pass; the failed checked steps have no hash
    assert (out["attempted"], out["failed"]) == (6, 3)
    assert any("oracle" in f for f in out["failures"])
    assert any("not one row" in f for f in out["failures"])
    assert any("disk full" in f for f in out["failures"])


def test_later_pass_with_other_rows_fails(duck):
    checked = _pass(0, {"q": [(1,), (2,)], "inv": [(7,)], "pub": []})
    later = [_pass(1, {"q": [(1,), (2,)], "inv": [(9,)], "pub": []}),
             _pass(2, {"q": [(1,), (2,)], "inv": [(7,)], "pub": []})]
    out = run.check_outputs(_steps(), checked, later, duck)
    assert (out["attempted"], out["failed"]) == (9, 1)
    assert out["failures"] == ["pass 1 inv: result hash differs from the checked pass"]


def test_tracing_overhead_cancels_linear_drift():
    # untraced passes drift down by 1 s a pass; the traced pass costs 0.5 s
    passes = [_pass(1, {}, wall=10.0), _pass(2, {}, traced=True, wall=9.5),
              _pass(3, {}, wall=8.0)]
    assert run.tracing_overhead(passes) == pytest.approx(0.5)
    assert run.tracing_overhead(passes[:2]) == 0.0  # no right-hand neighbour


def test_result_hash_ignores_row_order():
    assert run.result_hash([(1, "a"), (2, "b")]) == run.result_hash([(2, "b"), (1, "a")])
    assert run.result_hash([(1, "a")]) != run.result_hash([(1, "b")])
