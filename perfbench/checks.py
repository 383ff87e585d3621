"""Output checks, run outside the timed region.

- refresh: the warehouse end state against the generator's expectations
  (row counts, natural-key hashes, values the day-2 delta changes);
- serve: sampled responses recomputed by DuckDB SQL over the warehouse
  Parquet files;
- ask: top-k document ids recomputed in Python from
  ``rag.hash_embedding_components``.

Each check returns a list of mismatch descriptions; every entry counts as
one failure.
"""

from __future__ import annotations

import math
import os

from gen import key_hash

TABLES = ["politicians", "donors", "donations", "bills", "bill_cosponsors", "votes",
          "committees", "committee_assignments"]


def connect(wh_root: str) -> "duckdb.DuckDBPyConnection":
    # imported here, so a run's process loads DuckDB only once it checks
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(wh_root, t, "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


# natural keys of each table, resolved through the dims where the stored
# key is a surrogate id
_KEY_SQL = {
    "politicians": "SELECT congress_id FROM politicians",
    "donors": "SELECT split_part(donor_source_key, '|', 1), split_part(donor_source_key, '|', 2),"
              " split_part(donor_source_key, '|', 3) FROM donors",
    "donations": "SELECT fec_filing_id FROM donations",
    "bills": "SELECT official_bill_number, congress FROM bills",
    "bill_cosponsors": "SELECT b.official_bill_number, p.congress_id FROM bill_cosponsors c"
                       " JOIN bills b USING (bill_id) JOIN politicians p USING (politician_id)",
    "votes": "SELECT p.congress_id, v.roll_key FROM votes v JOIN politicians p USING (politician_id)",
    "committees": "SELECT committee_id FROM committees",
    "committee_assignments": "SELECT p.congress_id, a.committee_id FROM committee_assignments a"
                             " JOIN politicians p USING (politician_id)",
}


def table_rows(con) -> dict[str, int]:
    return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in TABLES}


def check_warehouse(con, expect: dict) -> list[str]:
    bad = []
    for t in TABLES:
        keys = con.execute(_KEY_SQL[t]).fetchall()
        n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if n != expect[t]["rows"]:
            bad.append(f"{t}: {n} rows, expected {expect[t]['rows']}")
        if key_hash(keys) != expect[t]["key_hash"]:
            bad.append(f"{t}: natural keys differ from the generator's")
    return bad


def check_day2_values(con, facts: dict) -> list[str]:
    bad = []
    party = dict(con.execute("SELECT congress_id, party FROM politicians").fetchall())
    for bid, want in facts["party_after_day2"].items():
        if party.get(bid) != want:
            bad.append(f"politician {bid}: party {party.get(bid)!r}, expected {want!r}")
    titles = dict(con.execute("SELECT official_bill_number, title FROM bills").fetchall())
    for num, want in facts["title_after_day2"].items():
        if titles.get(num) != want:
            bad.append(f"bill {num}: title {titles.get(num)!r}, expected {want!r}")
    roles = dict(con.execute(
        "SELECT p.congress_id || '|' || a.committee_id, a.role FROM committee_assignments a"
        " JOIN politicians p USING (politician_id)").fetchall())
    for k, want in facts["role_after_day2"].items():
        if roles.get(k) != want:
            bad.append(f"assignment {k}: role {roles.get(k)!r}, expected {want!r}")
    cents = dict(con.execute(
        "SELECT p.congress_id, CAST(round(sum(d.amount) * 100) AS BIGINT) FROM donations d"
        " JOIN politicians p USING (politician_id) GROUP BY 1").fetchall())
    for bid, want in facts["cents_by_member"].items():
        if cents.get(bid, 0) != want:
            bad.append(f"donations to {bid}: {cents.get(bid, 0)} cents, expected {want}")
    return bad


# -- serve responses ---------------------------------------------------------

def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _same(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want)
    )


def _report_expected(con, pid: int) -> dict:
    """The report rows DuckDB recomputes, keyed (section, metric, label)."""
    q = con.execute
    out = {}
    tot, n, nd = q("SELECT coalesce(sum(amount), 0), count(*), count(DISTINCT donor_id)"
                   " FROM donations WHERE politician_id = ?", [pid]).fetchone()
    out[("financial", "total_donations", "")] = float(tot)
    out[("financial", "n_donations", "")] = float(n)
    out[("financial", "n_donors", "")] = float(nd)
    for dt, total, cnt in q("SELECT coalesce(n.donor_type, 'Unknown'), sum(d.amount), count(*)"
                            " FROM donations d JOIN donors n USING (donor_id)"
                            " WHERE d.politician_id = ? GROUP BY 1", [pid]).fetchall():
        out[("financial", "by_type_total", dt)] = float(total)
        out[("financial", "by_type_n", dt)] = float(cnt)
    top = q("SELECT n.name, sum(d.amount) AS td FROM donations d JOIN donors n USING (donor_id)"
            " WHERE d.politician_id = ? GROUP BY d.donor_id, n.name"
            " ORDER BY td DESC, n.name, d.donor_id LIMIT 10", [pid]).fetchall()
    for i, (name, td) in enumerate(top, 1):
        out[("financial", f"top_donor_{i:02d}", name)] = float(td)
    out[("legislative", "n_sponsored", "")] = float(
        q("SELECT count(*) FROM bills WHERE sponsor_id = ?", [pid]).fetchone()[0])
    c, o = q("SELECT count(*), coalesce(sum(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END), 0)"
             " FROM bill_cosponsors WHERE politician_id = ?", [pid]).fetchone()
    out[("legislative", "n_cosponsored", "")] = float(c)
    out[("legislative", "n_original", "")] = float(o)
    out[("legislative", "n_joined_later", "")] = float(c - o)
    for pos, cnt in q("SELECT coalesce(vote_position, 'Unknown'), count(*) FROM votes"
                      " WHERE politician_id = ? GROUP BY 1", [pid]).fetchall():
        out[("voting", "position_n", pos)] = float(cnt)
    return out


def _scope_expected(con, scope: dict) -> dict:
    preds = []
    if scope.get("chamber"):
        preds.append(f"chamber = '{scope['chamber']}'")
    if scope.get("party"):
        preds.append(f"party = '{scope['party']}'")
    where = " AND ".join(preds) or "TRUE"
    cong = scope.get("congress")
    bill_f = f" AND bill_id IN (SELECT bill_id FROM bills WHERE congress = {int(cong)})" if cong else ""
    sp = f"politician_id IN (SELECT politician_id FROM politicians WHERE {where})"
    q = con.execute
    out = {("scope", "n_politicians", ""): float(
        q(f"SELECT count(*) FROM politicians WHERE {where}").fetchone()[0])}
    tot, n = q(f"SELECT coalesce(sum(amount), 0), count(*) FROM donations d WHERE {sp}").fetchone()
    out[("financial", "total_amount", "")] = float(tot)
    out[("financial", "n_donations", "")] = float(n)
    for dt, total in q(f"SELECT n.donor_type, sum(d.amount) FROM donations d JOIN donors n USING (donor_id)"
                       f" WHERE d.{sp} AND n.donor_type IS NOT NULL GROUP BY 1").fetchall():
        out[("financial", "by_type_total", dt)] = float(total)
    spons = f" AND congress = {int(cong)}" if cong else ""
    out[("legislative", "sponsored", "")] = float(q(
        f"SELECT count(*) FROM bills WHERE sponsor_id IN (SELECT politician_id FROM politicians"
        f" WHERE {where}){spons}").fetchone()[0])
    c, o = q("SELECT count(*), coalesce(sum(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END), 0)"
             f" FROM bill_cosponsors WHERE {sp}{bill_f}").fetchone()
    out[("legislative", "total_cosponsored", "")] = float(c)
    out[("legislative", "cosponsored_original", "")] = float(o)
    out[("legislative", "cosponsored_later", "")] = float(c - o)
    total = 0
    for pos, cnt in q(f"SELECT coalesce(vote_position, 'Unknown'), count(*) FROM votes"
                      f" WHERE {sp}{bill_f} GROUP BY 1").fetchall():
        out[("voting", "position_n", pos)] = float(cnt)
        total += cnt
    out[("voting", "position_n", "TOTAL")] = float(total)
    return out


def _check_report_rows(rows: list, want: dict, what: str) -> list[str]:
    got = {(r[0], r[1], r[2]): r[3] for r in rows}
    bad = []
    for k, v in want.items():
        if k not in got or not _close(float(got[k]), v):
            bad.append(f"{what}: {k} = {got.get(k)!r}, DuckDB says {v!r}")
    # every row the report returns in a recomputed group must be accounted for
    groups = {(s, m) for s, m, _ in want}
    for k in got:
        if (k[0], k[1]) in groups and k not in want and not k[1].startswith("top_donor"):
            bad.append(f"{what}: unexpected row {k}")
    return bad


_PAGES = {
    # sub -> (SQL over the warehouse with ? for the politician id, order, columns compared)
    "donations": ("SELECT date, fec_filing_id, amount FROM donations WHERE politician_id = ?",
                  "date, fec_filing_id", ("fec_filing_id", "amount")),
    # (date, politician_id, bill_id) does not order two roll calls on one
    # bill on one day, so only the ordered columns are compared
    "votes": ("SELECT date, politician_id, bill_id FROM votes WHERE politician_id = ?",
              "date, politician_id, bill_id", ("date", "bill_id")),
    "sponsored_bills": ("SELECT official_bill_number, congress FROM bills WHERE sponsor_id = ?",
                        "congress, official_bill_number", ("official_bill_number", "congress")),
    "cosponsored_bills": ("SELECT c.bill_id, b.official_bill_number FROM bill_cosponsors c"
                          " JOIN bills b USING (bill_id) WHERE c.politician_id = ?",
                          "bill_id", ("bill_id", "official_bill_number")),
}


def check_response(con, req, rows: list[dict], total) -> list[str]:
    """Recompute one serve response with DuckDB.  ``rows`` are the
    collected rows as dicts; ``total`` is the page total if any."""
    kind, sub, p = req
    what = f"{kind}/{sub} {p}"
    if kind == "report":
        return _check_report_rows([(r["section"], r["metric"], r["label"], r["value"]) for r in rows],
                                  _report_expected(con, p["pid"]), what)
    if kind == "scope":
        want = _scope_expected(con, p["scope"])
        got_rows = [(r["section"], r["metric"], r["label"], r["value"]) for r in rows
                    if r["metric"] != "member"]
        return _check_report_rows(got_rows, want, what)
    if kind == "dashboard":
        q = "SELECT count(*) FROM {}"
        want = {f"{t}_total": con.execute(q.format(t)).fetchone()[0]
                for t in ("donors", "donations", "bills", "votes", "politicians")}
        want["politicians_active"] = con.execute("SELECT count(*) FROM politicians WHERE is_active").fetchone()[0]
        for ch in ("House", "Senate"):
            want[f"politicians_{ch.lower()}"] = con.execute(
                "SELECT count(*) FROM politicians WHERE chamber = ?", [ch]).fetchone()[0]
        got = {r["stat"]: r["value"] for r in rows}
        return [] if got == want else [f"{what}: {got} != {want}"]
    if kind == "page" and sub == "politicians":
        f = p["filters"]
        col, val = next(iter(f.items()))
        base = f"FROM politicians WHERE {col} = ?"
        want = con.execute(f"SELECT congress_id {base} ORDER BY last_name, first_name, congress_id"
                           f" LIMIT {p['limit']} OFFSET {p['skip']}", [val]).fetchall()
        n = con.execute(f"SELECT count(*) {base}", [val]).fetchone()[0]
        got = [(r["congress_id"],) for r in rows]
    elif kind == "page":
        sql, order, cols = _PAGES[sub]
        want = con.execute(f"SELECT {', '.join(cols)} FROM ({sql}) ORDER BY {order}"
                           f" LIMIT {p['limit']} OFFSET {p['skip']}", [p["pid"]]).fetchall()
        n = con.execute(f"SELECT count(*) FROM ({sql})", [p["pid"]]).fetchone()[0]
        got = [tuple(r[c] for c in cols) for r in rows]
    elif sub == "sponsor":
        want = con.execute(
            "SELECT b.official_bill_number, p.last_name FROM bills b"
            " LEFT JOIN politicians p ON p.politician_id = b.sponsor_id WHERE b.bill_id = ?",
            [p["bill_id"]]).fetchall()
        got = [(r["official_bill_number"], (r["sponsor_name"] or "").split(" ")[-1] or None) for r in rows]
        n = total
    else:  # nav/cosponsors
        want = con.execute("SELECT politician_id FROM bill_cosponsors WHERE bill_id = ?"
                           f" ORDER BY politician_id LIMIT {p['limit']}", [p["bill_id"]]).fetchall()
        n = con.execute("SELECT count(*) FROM bill_cosponsors WHERE bill_id = ?",
                        [p["bill_id"]]).fetchone()[0]
        got = [(r["politician_id"],) for r in rows]
    bad = []
    if n != total:
        bad.append(f"{what}: total {total}, DuckDB says {n}")
    if not _same(got, [tuple(w) for w in want]):
        bad.append(f"{what}: page rows differ from DuckDB")
    return bad


# -- ask ---------------------------------------------------------------------

def _unit(comp: dict[int, int], dim: int):
    import numpy as np

    v = np.zeros(dim, dtype=np.float64)
    for b, c in comp.items():
        v[b] = c
    n = max(float(np.sqrt((v * v).sum())), 1e-12)
    return (v / n).astype(np.float32).astype(np.float64)


def check_topk(question: str, hit_ids: list[int], docs: list[tuple], k: int, dim: int = 64) -> list[str]:
    """Top-k by cosine over the corpus, recomputed in Python.  Ids whose
    recomputed score lies within 1e-3 of the k-th score may fall either
    side of the cut (float32 rounding), so only ids clearly inside or
    clearly outside it are judged."""
    from politician_etl_project_spark.rag import hash_embedding_components as components

    q = _unit(components(question, dim), dim)
    scored = sorted(((-float(q @ _unit(components(text, dim), dim)), doc_id) for doc_id, text in docs))
    kth = -scored[min(k, len(scored)) - 1][0]
    must = {d for s, d in scored if -s > kth + 1e-3}
    may = {d for s, d in scored if -s >= kth - 1e-3}
    got = set(hit_ids)
    if len(hit_ids) != min(k, len(docs)) or not must <= got or not got <= may:
        return [f"ask {question!r}: hits {sorted(got)}, expected {sorted(must)} within {sorted(may)}"]
    return []
