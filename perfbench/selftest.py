"""Self-tests of the benchmark itself; no Spark needed.

    python3 perfbench/selftest.py

1. Every generator is byte-identical for one seed and differs for
   another.
2. Every oracle check accepts the oracle's own answer and rejects a
   deliberately corrupted one: one changed billing amount, one dropped
   near-duplicate pair, one wrong ANN neighbour, one changed table row,
   one dropped corpus chunk.  So no check is vacuous.

Exits 0 when every test passes.
"""

from __future__ import annotations

import copy
import hashlib
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def test_generators_deterministic(tmp: str) -> None:
    for name, make in (
        ("billing", lambda d, s: gen.billing_inputs(d, s, 50, 3, 2000)),
        ("corpus", lambda d, s: gen.corpus_inputs(d, s, 60, 300)),
    ):
        a, b, c = (os.path.join(tmp, f"{name}-{i}") for i in "abc")
        make(a, 7)
        make(b, 7)
        make(c, 8)
        assert _digest(a) == _digest(b), f"{name}: same seed, different bytes"
        assert _digest(a) != _digest(c), f"{name}: different seeds, same bytes"
    x, y = gen.dml_batches(7, 40, 3), gen.dml_batches(7, 40, 3)
    assert all((p["views"] == q["views"]).all() and p["refunds"] == q["refunds"]
               and p["fixes"] == q["fixes"] for p, q in zip(x, y)), "dml batches differ"


def test_billing_checks(tmp: str) -> None:
    d = os.path.join(tmp, "bill")
    gen.billing_inputs(d, 3, 40, 2, 30_000)
    day = gen.day_str(1)
    bill = oracle.daily_bills(d, [day])[day]
    billable = oracle.billable(bill)
    assert billable, "the generator should bill some shops"
    log = []
    for s, (pv, a) in bill.items():
        log.append((s, day, pv, a, "pending", None))
        log.append((s, day, pv, a, "success" if a > 0 else "skipped",
                    f"gid://{s}" if a > 0 else None))
    assert oracle.check_usage_day(log, day, bill) == []
    bad = list(log)
    i = next(i for i, r in enumerate(bad) if r[4] == "success")
    bad[i] = bad[i][:3] + (bad[i][3] + 0.01,) + bad[i][4:]
    assert oracle.check_usage_day(bad, day, bill), "changed amount accepted in the log"

    state = [(s, day, pv, a, "success" if a > 0 else "skipped") for s, (pv, a) in bill.items()]
    assert oracle.check_state(state, {day: bill}) == []
    j = next(i for i, r in enumerate(state) if r[3] > 0)
    bad_state = list(state)
    bad_state[j] = bad_state[j][:3] + (bad_state[j][3] + 0.01, bad_state[j][4])
    assert oracle.check_state(bad_state, {day: bill}), "changed amount accepted in the state"

    rows = [(s, pv, a) for s, (pv, a) in bill.items()]
    want = oracle.report_payload(rows, with_status=True)
    assert oracle.check_report(copy.deepcopy(want), want) == []
    s0 = billable[0]
    changed = [(s, pv, a + 0.01 if s == s0 else a) for s, pv, a in rows]
    assert oracle.check_report(oracle.report_payload(changed, True), want), \
        "changed amount accepted in the report"

    calls = [(s, day, 1, 0.0, 0.001, True) for s in billable]
    assert oracle.check_charges(calls, day, bill, set()) == []
    assert oracle.check_charges(calls + calls[:1], day, bill, set()), "double charge accepted"


def test_table_checks() -> None:
    m = oracle.TableModel()
    m.append("2024-01-01", [5, 700, 1200])
    m.merge_outcomes("2024-01-01")
    rows = oracle.TableModel.as_tuples(m.rows)
    assert oracle.check_rows("t", list(rows), rows) == []
    bad = list(rows)
    bad[1] = bad[1][:2] + (bad[1][2] + 1,) + bad[1][3:]
    assert oracle.check_rows("t", bad, rows), "changed table row accepted"


def test_corpus_checks(tmp: str) -> None:
    info = gen.corpus_inputs(os.path.join(tmp, "corpus"), 5, 150, 400)
    texts = info["texts"]
    truth = oracle.true_pairs(texts)
    got = [(a, b, j) for (a, b), j in truth.items()]
    problems, recall = oracle.check_near_dups(got, truth)
    assert problems == [] and recall == 1.0
    sure = next(k for k, j in truth.items() if j >= 0.95)
    dropped = [r for r in got if (r[0], r[1]) != sure]
    assert oracle.check_near_dups(dropped, truth)[0], "dropped near-dup pair accepted"

    pairs = [(a, b) for a, b, _ in got]
    labels = sorted(oracle.components(pairs).items())
    assert oracle.check_clusters(labels, pairs) == []
    assert oracle.check_clusters(labels[1:], pairs), "dropped cluster label accepted"

    chunks = [r + ("train",) for r in oracle.curated_chunks(texts)]
    assert oracle.check_curated(chunks, texts) == []
    assert oracle.check_curated(chunks[1:], texts), "dropped chunk accepted"

    vecs = info["vecs"]
    top = oracle.brute_topk(vecs, 3, 10)
    rows = [(i, round(c, 6), r) for r, (i, c) in enumerate(top, 1)]
    problems, recall = oracle.check_ann(rows, vecs, 3, 10)
    assert problems == [] and recall == 1.0
    wrong = next(i for i in range(len(vecs)) if i not in {r[0] for r in rows} and i != 3)
    bad = list(rows)
    bad[4] = (wrong,) + bad[4][1:]
    assert oracle.check_ann(bad, vecs, 3, 10)[0], "wrong ANN neighbour accepted"


def main() -> int:
    if not __debug__:
        print("selftest needs assertions: run it without -O")
        return 2
    os.makedirs(".perfbench", exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=".perfbench")
    failed = 0
    try:
        for name, fn in (
            ("generators_deterministic", lambda: test_generators_deterministic(tmp)),
            ("billing_checks", lambda: test_billing_checks(tmp)),
            ("table_checks", test_table_checks),
            ("corpus_checks", lambda: test_corpus_checks(tmp)),
        ):
            try:
                fn()
                print(f"ok   {name}")
            except AssertionError as exc:
                failed += 1
                print(f"FAIL {name}: {exc}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
