"""Independent oracles and output checks.

The oracles compute every expected result from the generated files
(DuckDB, pyarrow, numpy) or from the generator's ground truth, never
through the program under test.  Each ``check_*`` function returns a
list of human-readable problems; an empty list means the output is
correct.  ``selftest.py`` feeds each check a deliberately corrupted
result to prove it is not vacuous.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa

RATE_PER_MILLION = 10.0
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
EMAIL_RE = re.compile(r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}")
PHONE_RE = re.compile(r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}")
EPS = 1e-6


def round_half_up(x: float, places: int = 2) -> float:
    """ROUND(x, places) HALF_UP on the shortest decimal form of a double."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def amount(pv: int) -> float:
    return round_half_up(pv / 1_000_000.0 * RATE_PER_MILLION)


# -- daily_billing ----------------------------------------------------------


def daily_bills(in_dir: str, days: list[str]) -> dict[str, dict[int, tuple[int, float]]]:
    """day -> {shop: (page_views, billing_amount)} over every customer,
    from the generated parquet files with DuckDB."""
    con = duckdb.connect()
    try:
        shops = [r[0] for r in con.execute(
            f"SELECT c_custkey FROM read_parquet('{in_dir}/customer.parquet')").fetchall()]
        lo, hi = min(days), (dt.date.fromisoformat(max(days)) + dt.timedelta(days=1)).isoformat()
        rows = con.execute(
            f"""SELECT CAST(ts AS DATE)::VARCHAR AS d, user_id, COUNT(*)
                FROM read_parquet('{in_dir}/events.parquet')
                WHERE event_type = 'view' AND ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'
                GROUP BY ALL"""
        ).fetchall()
    finally:
        con.close()
    pv: dict[str, dict[int, int]] = {d: {} for d in days}
    for d, shop, n in rows:
        if d in pv:
            pv[d][shop] = n
    return {d: {s: (pv[d].get(s, 0), amount(pv[d].get(s, 0))) for s in shops} for d in days}


def events_per_day(in_dir: str) -> dict[str, int]:
    con = duckdb.connect()
    try:
        return dict(con.execute(
            f"SELECT CAST(ts AS DATE)::VARCHAR, COUNT(*) "
            f"FROM read_parquet('{in_dir}/events.parquet') GROUP BY 1").fetchall())
    finally:
        con.close()


def billable(bill: dict[int, tuple[int, float]]) -> list[int]:
    return sorted(s for s, (_, a) in bill.items() if a > 0)


def report_payload(rows: list[tuple], with_status: bool) -> dict:
    """The report payload ``build_report`` should produce over billing
    rows (shop, page_views, billing_amount)."""
    active = sorted((r for r in rows if r[1] > 0), key=lambda r: (-r[1], r[0]))[:10]
    out = {
        "total_amount": round_half_up(sum(r[2] for r in rows)),
        "total_page_views": sum(r[1] for r in rows),
        "n_shops": len(rows),
        "top_shops": [
            {"shop": s, "page_views": pv, "page_views_str": f"{pv:,}", "amount_str": f"{a:.2f}"}
            for s, pv, a in active
        ],
    }
    if with_status:
        # every billable shop is charged successfully (a failed first
        # attempt is retried), every other shop is skipped
        n_bill = sum(1 for r in rows if r[2] > 0)
        out["status_counts"] = {k: v for k, v in (
            ("success", n_bill), ("skipped", len(rows) - n_bill)) if v}
    return out


def check_report(got: dict, want: dict) -> list[str]:
    problems = []
    for key in ("total_page_views", "n_shops", "status_counts"):
        if got.get(key) != want.get(key):
            problems.append(f"report {key}: got {got.get(key)!r}, want {want.get(key)!r}")
    if abs((got.get("total_amount") or 0) - want["total_amount"]) > EPS:
        problems.append(f"report total_amount: got {got.get('total_amount')}, want {want['total_amount']}")
    g_top = [(r["shop"], r["page_views"], r["page_views_str"], r["amount_str"])
             for r in got.get("top_shops", [])]
    w_top = [(r["shop"], r["page_views"], r["page_views_str"], r["amount_str"])
             for r in want["top_shops"]]
    if g_top != w_top:
        problems.append(f"report top_shops differ: got {g_top[:3]}..., want {w_top[:3]}...")
    return problems


def usage_log(table_path: str) -> list[tuple]:
    """Every row of the appended usage log, read with DuckDB."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""SELECT CAST(shop AS BIGINT), billing_date::VARCHAR, page_views,
                       billing_amount, shopify_billing_status, shopify_charge_id
                FROM read_parquet('{table_path}/**/*.parquet', hive_partitioning = 1)"""
        ).fetchall()
    finally:
        con.close()


def check_usage_day(log_rows: list[tuple], day: str, bill: dict) -> list[str]:
    """The durable log for `day` holds exactly one pending row and one
    outcome row per shop, with the oracle's views and amount."""
    problems = []
    got: dict[int, list[tuple]] = {}
    for shop, d, pv, amt, status, charge_id in log_rows:
        if d == day:
            got.setdefault(shop, []).append((pv, amt, status, charge_id))
    if set(got) != set(bill):
        problems.append(f"{day}: log has {len(got)} shops, oracle {len(bill)}")
    for shop, (pv, amt) in bill.items():
        rows = sorted(got.get(shop, []), key=lambda r: str(r[2]))
        want_status = "success" if amt > 0 else "skipped"
        statuses = sorted(str(r[2]) for r in rows)
        if statuses != sorted(["pending", want_status]):
            problems.append(f"{day} shop {shop}: statuses {statuses}, want pending+{want_status}")
            continue
        for r in rows:
            if r[0] != pv or abs(r[1] - amt) > EPS:
                problems.append(f"{day} shop {shop}: ({r[0]}, {r[1]}) != oracle ({pv}, {amt})")
                break
        outcome = [r for r in rows if r[2] != "pending"][0]
        if (outcome[3] is not None) != (amt > 0):
            problems.append(f"{day} shop {shop}: charge id {outcome[3]!r} for amount {amt}")
    return problems


def check_charges(calls: list[tuple], day: str, bill: dict, failing: set[int]) -> list[str]:
    """At most once and at least once: every billable shop has exactly
    one successful external call; failing shops failed exactly once
    first; nobody else was called."""
    problems = []
    ok: dict[int, int] = {}
    bad: dict[int, int] = {}
    for shop, d, _attempt, _t0, _t1, success in calls:
        if d == day:
            (ok if success else bad)[shop] = (ok if success else bad).get(shop, 0) + 1
    want = set(billable(bill))
    if set(ok) != want or any(n != 1 for n in ok.values()):
        extra = sorted(set(ok) - want)[:3]
        missing = sorted(want - set(ok))[:3]
        multi = sorted(s for s, n in ok.items() if n > 1)[:3]
        problems.append(f"{day}: charges wrong (extra {extra}, missing {missing}, repeated {multi})")
    want_bad = {s: 1 for s in failing & want}
    if bad != want_bad:
        problems.append(f"{day}: failed attempts {sorted(bad)[:3]}, want {sorted(want_bad)[:3]}")
    return problems


def check_state(got_rows: list[tuple], bills: dict[str, dict]) -> list[str]:
    """The latest-state read-back: one row per (shop, day) billed, with
    the outcome status and the oracle's numbers."""
    want = {(s, d): (pv, a, "success" if a > 0 else "skipped")
            for d, bill in bills.items() for s, (pv, a) in bill.items()}
    got = {}
    for shop, d, pv, amt, status in got_rows:
        if (shop, d) in got:
            return [f"state has two rows for {(shop, d)}"]
        got[(shop, d)] = (pv, amt, status)
    if set(got) != set(want):
        return [f"state keys differ: {len(got)} rows, want {len(want)}"]
    bad = [k for k, v in want.items()
           if got[k][0] != v[0] or abs(got[k][1] - v[1]) > EPS or got[k][2] != v[2]]
    return [f"state differs on {len(bad)} keys, e.g. {bad[0]}: {got[bad[0]]} vs {want[bad[0]]}"] if bad else []


# -- table_dml --------------------------------------------------------------


class TableModel:
    """The table_dml table as a dict, changed by the same operations the
    workload commits.  Key: (shop, billing_date)."""

    def __init__(self):
        self.rows: dict[tuple[int, str], dict] = {}

    def append(self, day: str, views) -> None:
        for shop, pv in enumerate(views):
            self.rows[(shop, day)] = {"page_views": int(pv), "billing_amount": amount(int(pv)),
                                      "status": "pending"}

    def merge_outcomes(self, day: str) -> None:
        for (shop, d), r in self.rows.items():
            if d == day:
                r["status"] = "success" if r["billing_amount"] > 0 else "skipped"

    def delete(self, day: str, shops: list[int]) -> None:
        for s in shops:
            self.rows.pop((s, day), None)

    def update(self, day: str, shops: list[int], delta: int) -> None:
        for s in shops:
            r = self.rows.get((s, day))
            if r is not None:
                r["page_views"] += delta
                r["status"] = "corrected"

    def snapshot(self) -> dict:
        return {k: dict(v) for k, v in self.rows.items()}

    @staticmethod
    def as_tuples(rows: dict) -> list[tuple]:
        return sorted((s, d, r["page_views"], r["billing_amount"], r["status"])
                      for (s, d), r in rows.items())

    def topn(self, n: int = 10) -> list[tuple]:
        by_day: dict[str, list] = {}
        for (s, d), r in self.rows.items():
            by_day.setdefault(d, []).append((-r["page_views"], s))
        out = []
        for d, xs in by_day.items():
            for rank, (neg, s) in enumerate(sorted(xs)[:n], 1):
                out.append((d, rank, -neg, s))
        return sorted(out)

    def totals(self) -> list[tuple]:
        agg: dict[str, list[int]] = {}
        for (_, d), r in self.rows.items():
            a = agg.setdefault(d, [0, 0])
            a[0] += 1
            a[1] += r["page_views"]
        return sorted((d, n, pv) for d, (n, pv) in agg.items())


def check_rows(what: str, got: list[tuple], want: list[tuple]) -> list[str]:
    got, want = sorted(got), sorted(want)
    if got == want:
        return []
    gs, ws = set(got), set(want)
    return [f"{what}: {len(got)} rows vs oracle {len(want)}; "
            f"e.g. extra {sorted(gs - ws)[:2]} missing {sorted(ws - gs)[:2]}"]


# -- corpus -----------------------------------------------------------------


def _normalize(t: str) -> str:
    t = re.sub(r"[^a-z0-9\s]", " ", t.lower())
    return re.sub(r"\s+", " ", t).strip()


def _tokens(t: str) -> list[str]:
    t = t.strip()
    return re.split(r"\s+", t) if t else []


def _quality(t: str) -> float:
    toks = _tokens(t)
    n = len(toks)
    ratio = len(set(toks)) / n if n else 0.0
    has_stop = 1.0 if set(toks) & set(STOPWORDS) else 0.0
    len_ok = 1.0 if 10 <= n <= 5000 else 0.0
    return round(0.4 * len_ok + 0.4 * ratio + 0.2 * has_stop, 6)


def curated_chunks(texts: list[str], size: int = 200, stride: int = 150,
                   threshold: float = 0.5) -> list[tuple]:
    """(doc_id, chunk_idx, chunk_len, chunk_fp) that curate_corpus should
    emit: normalized exact dedup keeping the lowest id, the quality
    gate, PII redaction and overlapping character windows."""
    winners: dict[str, int] = {}
    for i, t in enumerate(texts):
        k = _normalize(t)
        if k not in winners:
            winners[k] = i
    out = []
    for i in sorted(winners.values()):
        t = texts[i]
        if _quality(t) < threshold:
            continue
        red = PHONE_RE.sub("<PHONE>", EMAIL_RE.sub("<EMAIL>", t))
        for idx, start in enumerate(range(0, max(len(red), 1), stride)):
            chunk = red[start:start + size]
            out.append((i, idx, len(chunk), hashlib.md5(chunk.encode()).hexdigest()))
    return out


def check_curated(got: list[tuple], texts: list[str]) -> list[str]:
    """`got` rows are (doc_id, chunk_idx, chunk_len, chunk_fp, split)."""
    problems = check_rows("curate_corpus", [r[:4] for r in got], curated_chunks(texts))
    splits: dict[int, set] = {}
    for r in got:
        splits.setdefault(r[0], set()).add(r[4])
    mixed = [d for d, s in splits.items() if len(s) != 1 or not s <= {"train", "val", "test"}]
    if mixed:
        problems.append(f"curate_corpus: docs with inconsistent split, e.g. {mixed[0]}")
    return problems


def shingle_sets(texts: list[str], k: int = 3) -> list[set[str]]:
    out = []
    for t in texts:
        toks = _tokens(t)
        if not toks:
            out.append(set())
        else:
            out.append({" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))})
    return out


def true_pairs(texts: list[str], threshold: float = 0.5) -> dict[tuple[int, int], float]:
    """Every doc pair with 3-shingle Jaccard >= threshold: DuckDB finds
    the pairs sharing any shingle, Python scores them exactly."""
    sets = shingle_sets(texts)
    ids = [i for i, s in enumerate(sets) for _ in s]
    shs = [x for s in sets for x in s]
    con = duckdb.connect()
    try:
        con.register("sh", pa.table({"doc": ids, "shingle": shs}))
        cand = con.execute(
            """SELECT DISTINCT a.doc, b.doc FROM sh a JOIN sh b
               ON a.shingle = b.shingle AND a.doc < b.doc"""
        ).fetchall()
    finally:
        con.close()
    out = {}
    for a, b in cand:
        j = round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


def check_near_dups(got: list[tuple], truth: dict[tuple[int, int], float],
                    sure: float = 0.95) -> tuple[list[str], float]:
    """Every returned pair is a true pair with its exact Jaccard, and
    every true pair at Jaccard >= `sure` is found.  With the workload's
    8 bands of 4 MinHash rows, such a pair is missed with probability
    (1 - 0.95**4)**8 < 2e-6, so missing one is a defect; pairs below
    `sure` only lower the recall.  Returns (problems, recall)."""
    problems = []
    seen = set()
    for a, b, j in got:
        key = (min(a, b), max(a, b))
        if key in seen:
            problems.append(f"near_dup_pairs: pair {key} twice")
        seen.add(key)
        if key not in truth or abs(truth[key] - j) > EPS:
            problems.append(f"near_dup_pairs: {key} jaccard {j} vs oracle {truth.get(key)}")
    missed = sorted(k for k, j in truth.items() if j >= sure and k not in seen)
    if missed:
        problems.append(f"near_dup_pairs: missed {len(missed)} pairs at jaccard >= {sure}, e.g. {missed[0]}")
    recall = len(seen & set(truth)) / len(truth) if truth else 1.0
    return problems[:5], recall


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """doc -> smallest doc id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_clusters(got: list[tuple[int, int]], pairs: list[tuple[int, int]]) -> list[str]:
    return check_rows("dedup_clusters", got, sorted(components(pairs).items()))


def brute_topk(vecs: np.ndarray, qid: int, k: int) -> list[tuple[int, float]]:
    v = vecs.astype(np.float64)
    q = v[qid]
    cos = v @ q / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    cos[qid] = -np.inf
    order = np.lexsort((np.arange(len(cos)), -cos))[:k]
    return [(int(i), float(cos[i])) for i in order]


def check_ann(got: list[tuple], vecs: np.ndarray, qid: int, k: int) -> tuple[list[str], float]:
    """`got` rows are (neighbor_id, cosine, rank).  Every neighbour is
    another stored vector, its cosine is the exact one, ranks run
    1..n in cosine order.  Returns (problems, recall@k)."""
    v = vecs.astype(np.float64)
    q = v[qid]
    problems = []
    rows = sorted(got, key=lambda r: r[2])
    if [r[2] for r in rows] != list(range(1, len(rows) + 1)) or len(rows) != k:
        problems.append(f"ann q{qid}: ranks {[r[2] for r in rows]}")
    for nid, c, _rank in rows:
        if not 0 <= nid < len(v) or nid == qid:
            problems.append(f"ann q{qid}: bad neighbour {nid}")
            continue
        want = float(v[nid] @ q / (np.linalg.norm(v[nid]) * np.linalg.norm(q)))
        if abs(want - c) > 2 * EPS:
            problems.append(f"ann q{qid}: neighbour {nid} cosine {c} vs exact {want:.6f}")
    cs = [r[1] for r in rows]
    if any(a < b for a, b in zip(cs, cs[1:])):
        problems.append(f"ann q{qid}: results not in cosine order")
    truth = {i for i, _ in brute_topk(vecs, qid, k)}
    return problems, len(truth & {r[0] for r in rows}) / k
