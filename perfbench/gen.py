"""Seeded raw-input generator for the benchmark.

Writes the raw files the nightly refresh reads (member records, FEC
``cn``/``ccl``/``itcont``, billstatus XML, roll-call JSON, committee YAML
documents and a membership document) for a day-1 load and a day-2 delta,
and derives, without running the engine, what the warehouse must hold
after each day: per-table row counts and a hash of the sorted natural
keys, plus a few values the day-2 delta changes.

The same seed and scale give byte-identical files (``tree_digest``).
Everything the engine later sees is produced here; nothing is read from
outside the output directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

# Bumped whenever the generated inputs change shape, so results taken
# with different inputs are never compared.
INPUT_VERSION = 1

# One scale for the warehouse both workloads use.  Member, committee and
# candidate counts follow the reference; bill, roll-call and FEC volumes
# are cut so that a run fits the benchmark's time budget on four cores
# (README.md, "Scale and time budget").
SCALE = {
    "house": 435,
    "senate": 100,
    "extra_candidates": 1000,
    "committees": 40,
    "bills": 250,
    "roll_calls": 150,
    "fec_rows": 100_000,
    "donor_pool": 35_000,
    "delta": 0.05,
}

STATES = {
    "Alabama": "AL", "Alaska": "AK", "Arizona": "AZ", "Arkansas": "AR",
    "California": "CA", "Colorado": "CO", "Connecticut": "CT", "Delaware": "DE",
    "Florida": "FL", "Georgia": "GA", "Hawaii": "HI", "Idaho": "ID",
    "Illinois": "IL", "Indiana": "IN", "Iowa": "IA", "Kansas": "KS",
    "Kentucky": "KY", "Louisiana": "LA", "Maine": "ME", "Maryland": "MD",
    "Massachusetts": "MA", "Michigan": "MI", "Minnesota": "MN", "Mississippi": "MS",
    "Missouri": "MO", "Montana": "MT", "Nebraska": "NE", "Nevada": "NV",
    "New Hampshire": "NH", "New Jersey": "NJ", "New Mexico": "NM", "New York": "NY",
    "North Carolina": "NC", "North Dakota": "ND", "Ohio": "OH", "Oklahoma": "OK",
    "Oregon": "OR", "Pennsylvania": "PA", "Rhode Island": "RI", "South Carolina": "SC",
    "South Dakota": "SD", "Tennessee": "TN", "Texas": "TX", "Utah": "UT",
    "Vermont": "VT", "Virginia": "VA", "Washington": "WA", "West Virginia": "WV",
    "Wisconsin": "WI", "Wyoming": "WY",
}
PARTIES = ["Democratic", "Republican", "Independent"]
FIRST = ["Ada", "Bernard", "Clara", "Dmitri", "Elena", "Felix", "Greta", "Hamid",
         "Irene", "Jonas", "Karin", "Lionel", "Mara", "Nolan", "Odile", "Pavel",
         "Rosa", "Silas", "Tamar", "Ulric", "Vera", "Walter", "Yara", "Zeno"]
# Member surnames use these consonants only; non-member FEC candidates use
# a disjoint set, so no candidate of another person scores near the
# fuzzy-link threshold against a member.
MEMBER_SYL = [c + v for c in "bdfgklmnprst" for v in "aeiou"]
OTHER_SYL = [c + v for c in "cjqvwxyzh" for v in "aeiou"]
POSITIONS = ["Yea", "Nay", "Present", "Not Voting"]
BILL_TYPES = ["HR", "S", "HRES", "SRES", "HJRES"]
WORDS = ("water energy veterans health farm tax border school rail broadband "
         "housing climate defense trade wildfire drought opioid privacy "
         "pension tariff grid nurse transit").split()
CONGRESS = 119


@dataclass
class RefreshInputs:
    """Paths and in-memory documents for one day's ``etl.run_all``."""

    member_records: list
    billstatus_glob: str
    votes_glob: str
    itcont_path: str
    ccl_paths: list
    cn_paths: list
    committee_docs: list
    membership_doc: dict
    input_bytes: int = 0

    def run_all_kwargs(self) -> dict:
        return {
            "member_records": self.member_records,
            "billstatus_glob": self.billstatus_glob,
            "votes_glob": self.votes_glob,
            "itcont_path": self.itcont_path,
            "ccl_paths": self.ccl_paths,
            "cn_paths": self.cn_paths,
            "committee_docs": self.committee_docs,
            "membership_doc": self.membership_doc,
        }


@dataclass
class Generated:
    day1: RefreshInputs
    day2: RefreshInputs
    # table -> {"rows": n, "key_hash": hex} after day 1 / after day 2
    expect_day1: dict
    expect_day2: dict
    # natural-key facts the checks use beyond counts
    facts: dict = field(default_factory=dict)


def key_hash(keys) -> str:
    """Order-free digest of a set of natural keys (tuples of str/int)."""
    h = hashlib.sha256()
    for k in sorted("|".join(map(str, k)) for k in keys):
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def tree_digest(root: str, suffix: str = "") -> str:
    """Digest of the relative path and bytes of every file under ``root``
    whose name ends with ``suffix``."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(f for f in files if f.endswith(suffix)):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _surname(rng: random.Random, syl: list) -> str:
    return "".join(rng.choice(syl) for _ in range(rng.randint(2, 4))).capitalize()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


class _Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.names: set[tuple[str, str]] = set()

    # -- members -----------------------------------------------------------
    def members(self, n_house: int, n_senate: int, start: int) -> list[dict]:
        rng = self.rng
        states = list(STATES)
        out = []
        for i in range(n_house + n_senate):
            senate = i >= n_house
            state = states[(i - n_house) // 2 % len(states)] if senate else rng.choice(states)
            while True:
                first, last = rng.choice(FIRST), _surname(rng, MEMBER_SYL)
                if (first, last) not in self.names:
                    self.names.add((first, last))
                    break
            bid = f"{last[0]}{start + i:06d}"
            y0 = rng.choice([2007, 2011, 2015, 2019, 2023])
            chamber = "Senate" if senate else "House of Representatives"
            terms = [{"chamber": chamber, "startYear": y} for y in range(y0, 2026, 6 if senate else 2)]
            out.append({
                "bioguideId": bid,
                "name": f"{last}, {first}",
                "partyName": rng.choice(PARTIES[:2]) if rng.random() < 0.97 else "Independent",
                "state": state,
                "terms": {"item": terms},
            })
        return out

    # -- FEC -----------------------------------------------------------------
    def candidates(self, members: list[dict], start: int) -> list[tuple]:
        """(cand_id, cmte_id, line_cn, line_ccl) per member."""
        out = []
        for j, m in enumerate(members):
            office = "S" if m["terms"]["item"][-1]["chamber"] == "Senate" else "H"
            st = STATES[m["state"]]
            cand, cmte = f"{office}{start + j:08d}", f"C{start + j:08d}"
            name = m["name"].upper()
            out.append((cand, cmte, self._cn(cand, name, office, st, cmte), self._ccl(cand, cmte, office)))
        return out

    def other_candidates(self, n: int, start: int) -> list[tuple]:
        rng = self.rng
        out = []
        for j in range(n):
            office = rng.choice("HS")
            st = rng.choice(list(STATES.values()))
            cand, cmte = f"{office}{start + j:08d}", f"C{start + j:08d}"
            name = f"{_surname(rng, OTHER_SYL)}, {_surname(rng, OTHER_SYL)}".upper()
            out.append((cand, cmte, self._cn(cand, name, office, st, cmte), self._ccl(cand, cmte, office)))
        return out

    @staticmethod
    def _cn(cand, name, office, st, cmte) -> str:
        return f"{cand}|{name}|DEM|2024|{st}|{office}|01|I|C|{cmte}||||{st}|00000"

    @staticmethod
    def _ccl(cand, cmte, office) -> str:
        return f"{cand}|2024|2024|{cmte}|{office}|P|L{cand}"

    def donor_pool(self, n: int) -> list[tuple]:
        rng = self.rng
        seen = set()
        pool = []
        while len(pool) < n:
            pac = rng.random() < 0.08
            name = (f"{_surname(rng, MEMBER_SYL + OTHER_SYL).upper()} PAC" if pac
                    else f"{_surname(rng, MEMBER_SYL + OTHER_SYL).upper()}, {rng.choice(FIRST).upper()}")
            zip_code = f"{rng.randint(1000, 99999):05d}"
            employer = "" if pac or rng.random() < 0.1 else rng.choice(WORDS).upper() + " CO"
            if (name, zip_code, employer) in seen:
                continue
            seen.add((name, zip_code, employer))
            pool.append((name, rng.choice(list(STATES.values())), zip_code, employer,
                         "" if pac else rng.choice(["ENGINEER", "TEACHER", "RETIRED", "LAWYER"]),
                         "PAC" if pac else "IND"))
        return pool

    def itcont(self, n: int, cmtes: list[str], dead_cmtes: list[str], pool: list[tuple],
               sub_start: int, path: str) -> list[tuple]:
        """Writes ``n`` itcont lines; returns (sub_id, cmte, donor_idx, cents)
        of the rows the pipeline must keep (new filing, parsable amount
        and date), whatever their committee."""
        rng = self.rng
        kept = []
        # Zipf-ish skew: a few committees raise most of the money
        weights = [1.0 / (i + 1) for i in range(len(cmtes))]
        live = rng.choices(cmtes, weights=weights, k=n)
        lines = []
        for i in range(n):
            cmte = live[i] if rng.random() < 0.85 else rng.choice(dead_cmtes)
            d = rng.randrange(len(pool))
            name, st, zip_code, employer, occ, ent = pool[d]
            amndt = "N" if rng.random() < 0.95 else "A"
            cents = rng.randint(100, 500_000)
            amount = f"{cents // 100}.{cents % 100:02d}"
            month, day, year = rng.randint(1, 12), rng.randint(1, 28), rng.choice([2023, 2024])
            date = f"{month:02d}{day:02d}{year}"
            r = rng.random()
            if r < 0.002:
                amount = "n/a"
            elif r < 0.004:
                date = f"13{day:02d}{year}"
            sub = f"SUB{sub_start + i:09d}"
            lines.append(f"{cmte}|{amndt}|YE||img|15|{ent}|{name}|CITY{zip_code[:2]}|{st}|{zip_code}|"
                         f"{employer}|{occ}|{date}|{amount}|||1|||{sub}")
            if amndt == "N" and r >= 0.004:
                kept.append((sub, cmte, d, cents))
        with open(path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        return kept

    # -- bills ---------------------------------------------------------------
    def bill(self, btype: str, number: int, sponsor: str, cospon: list[tuple], title: str) -> str:
        items = "".join(
            f"<item><bioguideId>{c}</bioguideId><sponsorshipDate>{d}</sponsorshipDate>"
            f"<isOriginalCosponsor>{o}</isOriginalCosponsor></item>"
            for c, d, o in cospon
        )
        return (
            '<?xml version="1.0"?>\n<billStatus>\n  <bill>\n'
            f"    <congress>{CONGRESS}</congress>\n    <type>{btype}</type>\n"
            f"    <number>{number}</number>\n    <title>{title}</title>\n"
            f"    <introducedDate>2025-{number % 12 + 1:02d}-{number % 28 + 1:02d}</introducedDate>\n"
            f"    <sponsors><item><bioguideId>{sponsor}</bioguideId></item></sponsors>\n"
            f"    <cosponsors>{items}</cosponsors>\n"
            f"    <summaries><summary><text>A bill about {title.lower()}.</text></summary></summaries>\n"
            "  </bill>\n</billStatus>\n"
        )

    def cosponsors(self, pool: list[str], sponsor: str, k: int) -> list[tuple]:
        rng = self.rng
        picks = rng.sample([p for p in pool if p != sponsor], k)
        return [(p, f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                 "True" if rng.random() < 0.6 else "False") for p in picks]

    # -- votes ---------------------------------------------------------------
    def roll_call(self, voters: list[str], bill: tuple | None, senate: bool) -> dict:
        rng = self.rng
        votes: dict[str, list] = {p: [] for p in POSITIONS}
        for v in voters:
            votes[rng.choices(POSITIONS, weights=[48, 44, 2, 6])[0]].append(
                {"id": v, "party": "X", "state": "XX"}
            )
        if senate and rng.random() < 0.1:
            votes["Yea"].append("VP")
        doc = {"category": "passage" if rng.random() < 0.7 else "amendment",
               "date": f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
               "votes": votes}
        if bill is None:
            doc["category"] = "nomination"
        else:
            doc["bill"] = {"type": bill[0].lower(), "number": bill[1], "congress": CONGRESS}
        return doc


def _write(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    return len(text.encode())


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def generate(out: str, seed: int, scale: dict, base_seed: int | None = None) -> Generated:
    """Write day-1 and day-2 raw inputs under ``out`` and return their
    handles and the expected warehouse contents.  Day 1 comes from
    ``base_seed`` (default: ``seed``) and the day-2 delta from ``seed``, so
    runs with one base and different seeds share their day-1 state."""
    g = _Gen(seed if base_seed is None else base_seed)
    delta = scale["delta"]
    d1, d2 = os.path.join(out, "day1"), os.path.join(out, "day2")

    # -- day 1 -----------------------------------------------------------------
    members1 = g.members(scale["house"], scale["senate"], start=1)
    ids1 = [m["bioguideId"] for m in members1]
    house1 = [m["bioguideId"] for m in members1 if m["terms"]["item"][-1]["chamber"] != "Senate"]
    senate1 = [m["bioguideId"] for m in members1 if m["terms"]["item"][-1]["chamber"] == "Senate"]

    # FEC candidates and committees: one principal committee per candidate
    cands1 = g.candidates(members1, start=1)
    others = g.other_candidates(scale["extra_candidates"], start=100_000)
    bytes1 = _write(os.path.join(d1, "cn.txt"), "\n".join(c[2] for c in cands1 + others) + "\n")
    bytes1 += _write(os.path.join(d1, "ccl.txt"), "\n".join(c[3] for c in cands1 + others) + "\n")
    linked1 = [c[1] for c in cands1]
    dead = [c[1] for c in others]
    pool = g.donor_pool(scale["donor_pool"])
    n1 = scale["fec_rows"]
    kept1 = g.itcont(n1, linked1, dead, pool, 1, os.path.join(d1, "itcont.txt"))
    bytes1 += os.path.getsize(os.path.join(d1, "itcont.txt"))
    set1 = set(linked1)
    don1 = [k for k in kept1 if k[1] in set1]

    def bill_rows(n: int, start_number: int, sponsors: list[str], pool_ids: list[str]):
        rows = []
        for i in range(n):
            btype = BILL_TYPES[i % len(BILL_TYPES)]
            sponsor = g.rng.choice(sponsors)
            cos = g.cosponsors(pool_ids, sponsor, min(len(pool_ids) - 1, int(g.rng.expovariate(1 / 6))))
            rows.append([btype, start_number + i, sponsor, cos, _words(g.rng, 3).title()])
        return rows

    bills1 = bill_rows(scale["bills"], 1, ids1, ids1)
    for b in bills1:
        bytes1 += _write(os.path.join(d1, "xml", f"{b[0]}{b[1]}.xml"), g.bill(*b))
    titles1 = {(f"{b[0]}{b[1]}", CONGRESS): b[4] for b in bills1}
    cos1 = {(f"{b[0]}{b[1]}", c[0]) for b in bills1 for c in b[3]}

    # roll calls: one file per roll in the {congress}/votes/{year}/{roll} layout
    def rolls(n: int, start: int, root: str, bills: list, house: list, senate: list):
        keys, nbytes = set(), 0
        for i in range(n):
            sen = g.rng.random() < 0.3
            bill = None if g.rng.random() < 0.03 else g.rng.choice(bills)
            roll = f"{'s' if sen else 'h'}{start + i}"
            doc = g.roll_call(senate if sen else house, bill and (bill[0], bill[1]), sen)
            rel = f"{CONGRESS}/votes/2025/{roll}"
            nbytes += _write(os.path.join(root, "votes", rel, "data.json"), json.dumps(doc))
            if bill is not None:
                keys |= {(v["id"], rel) for vs in doc["votes"].values() for v in vs if isinstance(v, dict)}
        return keys, nbytes

    votes1, nb = rolls(scale["roll_calls"], 1, d1, bills1, house1, senate1)
    bytes1 += nb

    # committees (parsed YAML documents) and the membership document
    committee_docs, cids = [], []
    for i in range(scale["committees"]):
        chamber = ["house", "senate", "joint"][i % 3]
        cid = f"{chamber[0].upper()}S{i:02d}"
        subs = [{"name": f"{_words(g.rng, 2).title()} Subcommittee", "thomas_id": f"{j:02d}"}
                for j in range(1, g.rng.randint(2, 7))]
        doc = {"name": f"Committee on {_words(g.rng, 2).title()}", "type": chamber, "thomas_id": cid,
               "url": f"http://committee.example/{cid}", "subcommittees": subs}
        doc["senate_committee_id" if chamber == "senate" else "house_committee_id"] = cid
        committee_docs.append(doc)
        cids += [cid] + [cid + s["thomas_id"] for s in subs]
    membership1 = {}
    for cid in cids:
        roster = g.rng.sample(ids1, g.rng.randint(8, 30))
        membership1[cid] = [
            {"name": b, "bioguide": b, "rank": r + 1,
             "title": "Chair" if r == 0 else ("Ranking Member" if r == 1 else None),
             "party": "majority" if r % 2 == 0 else "minority"}
            for r, b in enumerate(roster)
        ]
    assign = {(m["bioguide"], cid) for cid, ms in membership1.items() for m in ms}

    # -- day 2: the delta ------------------------------------------------------
    g.rng = rng = random.Random(f"delta-{seed}")
    # a few new members (special elections) and some party flips
    n_new = max(2, int(len(members1) * delta / 5))
    members_new = g.members(n_new, 0, start=len(members1) + 1)
    members2 = [dict(m) for m in members1] + members_new
    flipped = rng.sample(range(len(members1)), max(1, int(len(members1) * delta)))
    for i in flipped:
        m = members2[i]
        m["partyName"] = "Independent" if m["partyName"] != "Independent" else "Democratic"
    ids2 = [m["bioguideId"] for m in members2]
    cands_new = g.candidates(members_new, start=len(members1) + 1)
    bytes2 = _write(os.path.join(d2, "cn.txt"), "\n".join(c[2] for c in cands_new) + "\n")
    bytes2 += _write(os.path.join(d2, "ccl.txt"), "\n".join(c[3] for c in cands_new) + "\n")
    cmte_of = {m["bioguideId"]: c[1] for m, c in zip(members1 + members_new, cands1 + cands_new)}
    linked2 = linked1 + [c[1] for c in cands_new]
    # new filings, some for the new members' committees
    kept2 = g.itcont(int(n1 * delta), linked2, dead, pool, n1 + 1, os.path.join(d2, "itcont.txt"))
    bytes2 += os.path.getsize(os.path.join(d2, "itcont.txt"))
    set2 = set(linked2)
    don2 = don1 + [k for k in kept2 if k[1] in set2]

    # new bills and amended ones (new title, extra cosponsors)
    n_bdelta = max(1, int(len(bills1) * delta))
    bills_new = bill_rows(n_bdelta, len(bills1) + 1, ids2, ids2)
    amended = []
    for i in rng.sample(range(len(bills1)), n_bdelta):
        btype, number, sponsor, cos, _ = bills1[i]
        have = {c[0] for c in cos} | {sponsor}
        extra = [c for c in g.cosponsors(ids2, sponsor, 3) if c[0] not in have]
        amended.append([btype, number, sponsor, cos + extra, _words(rng, 3).title() + " Amended"])
    for b in bills_new + amended:
        bytes2 += _write(os.path.join(d2, "xml", f"{b[0]}{b[1]}.xml"), g.bill(*b))
    titles = dict(titles1)
    titles.update({(f"{b[0]}{b[1]}", CONGRESS): b[4] for b in bills_new + amended})
    cos2 = cos1 | {(f"{b[0]}{b[1]}", c[0]) for b in bills_new + amended for c in b[3]}

    house2 = house1 + [m["bioguideId"] for m in members_new]
    new_votes, nb = rolls(max(1, int(scale["roll_calls"] * delta)), scale["roll_calls"] + 1, d2,
                          bills1 + bills_new, house2, senate1)
    bytes2 += nb
    votes2 = votes1 | new_votes

    membership2 = {cid: [dict(m) for m in ms] for cid, ms in membership1.items()}
    retitled = []
    for cid in rng.sample(cids, max(1, int(len(cids) * delta))):
        m = membership2[cid][-1]
        m["title"] = "Vice Chair"
        retitled.append((m["bioguide"], cid))

    def counts(members, donations, titles, cos, votes):
        dkeys = {(pool[k[2]][0], pool[k[2]][2], pool[k[2]][3]) for k in donations}
        return {
            "politicians": {"rows": len(members), "key_hash": key_hash((m,) for m in members)},
            "donors": {"rows": len(dkeys), "key_hash": key_hash(dkeys)},
            "donations": {"rows": len(donations), "key_hash": key_hash((k[0],) for k in donations)},
            "bills": {"rows": len(titles), "key_hash": key_hash(titles)},
            "bill_cosponsors": {"rows": len(cos), "key_hash": key_hash(cos)},
            "votes": {"rows": len(votes), "key_hash": key_hash(votes)},
            "committees": {"rows": len(cids), "key_hash": key_hash((c,) for c in cids)},
            "committee_assignments": {"rows": len(assign), "key_hash": key_hash(assign)},
        }

    day1 = RefreshInputs(
        member_records=members1,
        billstatus_glob=os.path.join(d1, "xml", "*.xml"),
        votes_glob=os.path.join(d1, "votes", "*", "votes", "*", "*", "data.json"),
        itcont_path=os.path.join(d1, "itcont.txt"),
        ccl_paths=[os.path.join(d1, "ccl.txt")],
        cn_paths=[os.path.join(d1, "cn.txt")],
        committee_docs=committee_docs,
        membership_doc=membership1,
        input_bytes=bytes1,
    )
    # the day-2 linkage files are the full set: the link pass re-links
    # every politician from what it is given
    day2 = RefreshInputs(
        member_records=members2,
        billstatus_glob=os.path.join(d2, "xml", "*.xml"),
        votes_glob=os.path.join(d2, "votes", "*", "votes", "*", "*", "data.json"),
        itcont_path=os.path.join(d2, "itcont.txt"),
        ccl_paths=day1.ccl_paths + [os.path.join(d2, "ccl.txt")],
        cn_paths=day1.cn_paths + [os.path.join(d2, "cn.txt")],
        committee_docs=committee_docs,
        membership_doc=membership2,
        input_bytes=bytes2,
    )
    amounts: dict[str, int] = {}
    for sub, cmte, _d, cents in don2:
        amounts[cmte] = amounts.get(cmte, 0) + cents
    facts = {
        "party_after_day2": {members2[i]["bioguideId"]: members2[i]["partyName"] for i in flipped},
        "title_after_day2": {f"{b[0]}{b[1]}": b[4] for b in amended},
        "role_after_day2": {f"{b}|{c}": "Vice Chair" for b, c in retitled},
        "cents_by_member": {b: amounts.get(c, 0) for b, c in cmte_of.items()},
    }
    return Generated(
        day1=day1,
        day2=day2,
        expect_day1=counts(ids1, don1, titles1, cos1, votes1),
        expect_day2=counts(ids2, don2, titles, cos2, votes2),
        facts=facts,
    )
