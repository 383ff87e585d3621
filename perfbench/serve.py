"""The ``serve`` workload: the read traffic of the dashboard, the REST API
and the question tab, over a warehouse built by ``etl.run_all``.

Two closed-loop clients, because each caller waits for its reply.  Each
client deals its requests from a deck of views, the requests a page of
the reference's dashboard or API issues (SURVEY.md §3.1-3.3), reshuffled
each round; a run measures whole rounds, so every run sends the same mix.
Politician ids are Zipf-skewed over the members, so requests share work.
"""

from __future__ import annotations

import math
import random
import threading
import time
from dataclasses import dataclass, field

import checks
import gen
from common import base_warehouse, check_warehouse, fill_absent, median, storage_metrics, table_rows, traced_layers
from trace import EngineCounter, NoCounter, Tracer, instrument

CLIENTS = 2
TOP_K = 5
CORPUS_DOCS = 30
VOCABULARY = 2000
# responses re-computed by DuckDB per (kind, sub), and questions re-ranked
CHECKS_PER_KIND = 2
CHECKED_QUESTIONS = 4

PAGE_SUBS = ["politicians", "donations", "votes", "sponsored_bills", "cosponsored_bills"]
SCOPES = [{"chamber": "House"}, {"chamber": "Senate"}, {"party": "Democratic"},
          {"party": "Republican"}, {"chamber": "Senate", "congress": gen.CONGRESS}]
KINDS = ["report", "scope", "page", "nav", "dashboard"]


@dataclass
class Context:
    tables: dict
    pids: list  # politician ids, most-requested first
    zipf: list
    bill_ids: list
    states: list
    corpus: object = None
    docs: list = field(default_factory=list)  # (doc_id, congress_id, text)
    pid_of: dict = field(default_factory=dict)

    def pid(self, rng: random.Random) -> int:
        return rng.choices(self.pids, cum_weights=self.zipf)[0]


@dataclass
class Done:
    kind: str
    sub: str
    params: dict
    start: float
    end: float
    build: float = 0.0
    collect: float = 0.0
    rows: list | None = None
    total: int | None = None
    error: str | None = None
    steps: dict = field(default_factory=dict)


# One round of a client's views, each the requests one page issues in the
# reference (SURVEY.md §3.1-3.3): a dashboard view runs the scope bundle for
# its sidebar filters and the headline stats; a politician page the
# politician report; each API list endpoint and bill navigation call one
# request.  Client 1 also asks a question.  The reference publishes no
# traffic mix: one of each view per round is an assumption, made so that
# every run sends the same mix.
DECK = ([[("scope", "scope"), ("dashboard", "dashboard")], [("report", "report")]]
        + [[("page", s)] for s in PAGE_SUBS] + [[("nav", "sponsor")], [("nav", "cosponsors")]])
ASK_VIEW = [("ask", "ask")]
# politician ids are drawn with weight 1 / rank ** ZIPF (an assumption too)
ZIPF = 1.1


def make_request(rng: random.Random, ctx: Context, kind: str, sub: str) -> tuple[str, str, dict]:
    if kind == "report":
        return kind, sub, {"pid": ctx.pid(rng)}
    if kind == "scope":
        return kind, sub, {"scope": dict(rng.choice(SCOPES))}
    if kind == "ask":
        return kind, sub, {"question": make_question(rng, ctx)}
    if kind == "nav":
        return kind, sub, {"bill_id": rng.choice(ctx.bill_ids), "limit": 20}
    if kind == "dashboard":
        return kind, sub, {}
    p = {"skip": rng.choice([0, 0, 0, 20]), "limit": 20}
    if sub == "politicians":
        p["filters"] = ({"party": rng.choice(["Democratic", "Republican"])} if rng.random() < 0.5
                        else {"state": rng.choice(ctx.states)})
    else:
        p["pid"] = ctx.pid(rng)
    return kind, sub, p


def build_request(T: dict, kind: str, sub: str, p: dict):
    """The metrics.* call for one request: (DataFrame, page total or None)."""
    from politician_etl_project_spark import metrics

    if kind == "report":
        return metrics.politician_report_sql(T, p["pid"]), None
    if kind == "scope":
        return metrics.scope_report_sql(T, **p["scope"]), None
    if kind == "dashboard":
        return metrics.dashboard_stats(T), None
    if kind == "nav":
        if sub == "sponsor":
            return metrics.bill_sponsor(T["bills"], T["politicians"], p["bill_id"]), None
        return metrics.bill_cosponsors(T["bill_cosponsors"], T["politicians"], p["bill_id"], None, 0, p["limit"])
    if sub == "politicians":
        return metrics.paginate_politicians(T["politicians"], p["filters"], p["skip"], p["limit"])
    if sub == "donations":
        return metrics.paginate_donations(T["donations"], {"politician_id": p["pid"]}, p["skip"], p["limit"])
    if sub == "votes":
        return metrics.paginate_votes(T["votes"], {"politician_id": p["pid"]}, p["skip"], p["limit"])
    if sub == "sponsored_bills":
        return metrics.paginate_sponsored_bills(T["bills"], p["pid"], p["skip"], p["limit"])
    return metrics.paginate_cosponsored_bills(T["bill_cosponsors"], T["bills"], p["pid"], None, p["skip"], p["limit"])


def do_request(ctx: Context, tracer: Tracer, counter, req, op_id: str) -> Done:
    kind, sub, p = req
    d = Done(kind, sub, p, time.perf_counter(), 0.0)
    try:
        with counter.op(op_id), tracer.span("bench", f"request.{kind}", op=op_id):
            t0 = time.perf_counter()
            df, d.total = build_request(ctx.tables, kind, sub, p)
            t1 = time.perf_counter()
            with tracer.span("engine", "collect"):
                d.rows = [r.asDict() for r in df.collect()]
            d.build, d.collect = t1 - t0, time.perf_counter() - t1
    except Exception as e:  # a failed request is counted, not fatal
        d.error = repr(e)
    d.end = time.perf_counter()
    return d


def make_question(rng: random.Random, ctx: Context) -> str:
    text = rng.choice(ctx.docs)[2]
    words = text.split()
    topic = " ".join(rng.sample(words[4:], 3))
    return f"What has {words[0]} {words[1]} done about {topic}?"


def ask(ctx: Context, tracer: Tracer, counter, question: str, op_id: str) -> Done:
    """One question: keywords, semantic top-k, metric fan-out for the
    politician of the best hit, synthesis; each step timed."""
    from politician_etl_project_spark import metrics, rag

    d = Done("ask", "ask", {"question": question}, time.perf_counter(), 0.0)
    st = d.steps
    try:
        with counter.op(op_id), tracer.span("bench", "request.ask", op=op_id):
            t = time.perf_counter()
            keywords = rag.llm_extract_keywords(question)
            st["keywords"] = time.perf_counter() - t
            t = time.perf_counter()
            hits_df = rag.semantic_search(ctx.corpus, question, k=TOP_K)
            st["search_build"] = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.span("engine", "collect"):
                hits = [r.asDict() for r in hits_df.collect()]
            st["search_collect"] = time.perf_counter() - t
            t = time.perf_counter()
            context = {"semantic_hits": hits, "keywords": keywords}
            if hits:
                pid = ctx.pid_of[hits[0]["congress_id"]]
                report = metrics.politician_report_sql(ctx.tables, pid)
                with tracer.span("engine", "collect"):
                    context["politician_report"] = [r.asDict() for r in report.limit(20).collect()]
            st["fanout"] = time.perf_counter() - t
            t = time.perf_counter()
            answer = rag.llm_synthesize(question, context)
            st["synthesize"] = time.perf_counter() - t
            d.rows = [h["doc_id"] for h in hits]
            d.total = len(answer)
    except Exception as e:
        d.error = repr(e)
    d.end = time.perf_counter()
    return d


def corpus_docs(rng: random.Random, members: list[dict]) -> list[tuple]:
    """Bill-summary-like documents, each about one member, over a fixed
    vocabulary of policy words and pseudo-words with Zipf-like frequencies."""
    vrng = random.Random("vocabulary")
    vocab = gen.WORDS + sorted({"".join(vrng.choice(gen.MEMBER_SYL + gen.OTHER_SYL) for _ in range(3))
                                for _ in range(VOCABULARY)})
    weights = [1.0 / (i + 1) for i in range(len(vocab))]
    docs = []
    for i in range(CORPUS_DOCS):
        m = rng.choice(members)
        last, first = m["name"].split(", ")
        body = " ".join(rng.choices(vocab, weights=weights, k=rng.randint(40, 90)))
        text = f"{first} {last} of {m['state']} ({m['partyName']}) introduced legislation on {body}"
        docs.append((i + 1, m["bioguideId"], text))
    return docs


def client(ctx: Context, tracer: Tracer, counter, rng: random.Random, deadline: float, index: int,
           tag: str, out: list) -> None:
    """Whole rounds of the client's deck until ``deadline`` has passed."""
    n = 0
    while True:
        deck = DECK + [ASK_VIEW] * index
        rng.shuffle(deck)
        for kind, sub in (req for view in deck for req in view):
            n += 1
            req = make_request(rng, ctx, kind, sub)
            op = f"{tag}-c{index}-{n}"
            out.append(ask(ctx, tracer, counter, req[2]["question"], op) if kind == "ask"
                       else do_request(ctx, tracer, counter, req, op))
        if time.perf_counter() >= deadline:
            return


def run_clients(ctx: Context, tracer: Tracer, counter, seed: int, seconds: float, tag: str) -> tuple[list, float]:
    """Run the clients for at least ``seconds``, in whole rounds, and
    return the requests and the throughput: each client's completed
    requests over its own time to its last reply, summed over clients, so
    a client that ends its last round early does not count as idle while
    the other ends its own.  The request streams depend on the seed and
    tag only."""
    deadline = time.perf_counter() + seconds
    results: list[list] = [[] for _ in range(CLIENTS)]
    threads = [threading.Thread(target=client, args=(ctx, tracer, counter, random.Random(f"{seed}-{tag}-{c}"),
                                                     deadline, c, tag, results[c]))
               for c in range(CLIENTS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    done = [d for out in results for d in out]
    rate = sum(sum(d.error is None for d in out) / (max(d.end for d in out) - t0) for out in results)
    return done, rate


def setup(session, work, g: gen.Generated, seed: int, tracer: Tracer) -> tuple[Context, dict, object, list]:
    """Open the day-1 warehouse (building it on a checkout's first run),
    hydrate the question corpus and warm up."""
    from politician_etl_project_spark import etl, rag

    spark = session.spark
    t = {"session.start_s": session.start_s}
    root, t["etl.warehouse_build_s"] = base_warehouse(session, g, tracer)
    t0 = time.perf_counter()
    wh = etl.Warehouse(spark, str(root))
    T = {name: wh.read(name) for name in checks.TABLES}
    # politician_report_sql reads the cosponsor table under the key
    # "cosponsors", scope_report_sql under "bill_cosponsors": pass both
    T["cosponsors"] = T["bill_cosponsors"]
    with tracer.span("engine", "collect"):
        pid_of = {r["congress_id"]: r["politician_id"]
                  for r in T["politicians"].select("congress_id", "politician_id").collect()}
        bill_ids = sorted(r[0] for r in T["bills"].select("bill_id").collect())
    rng = random.Random(seed)
    pids = sorted(pid_of.values())
    rng.shuffle(pids)
    cum, acc = [], 0.0
    for i in range(len(pids)):
        acc += 1.0 / (i + 1) ** ZIPF
        cum.append(acc)
    ctx = Context(T, pids, cum, bill_ids, sorted(gen.STATES.values()), pid_of=pid_of)
    t["serve.open_s"] = time.perf_counter() - t0

    ctx.docs = corpus_docs(rng, g.day1.member_records)
    t0 = time.perf_counter()
    with tracer.span("bench", "hydrate", op="hydrate"):
        docs_df = spark.createDataFrame(ctx.docs, "doc_id int, congress_id string, text string")
        emb = rag.embed_corpus(docs_df)
        with tracer.span("engine", "write"):
            emb.write.parquet(str(work / "corpus"))
        ctx.corpus = spark.read.parquet(str(work / "corpus"))
    t["rag.hydrate_s"] = time.perf_counter() - t0
    t["rag.hydrate_docs_per_s"] = len(ctx.docs) / t["rag.hydrate_s"]

    # warm-up: a round of each client's deck, as the timed loop runs them
    t0 = time.perf_counter()
    warm_done, _ = run_clients(ctx, tracer, NoCounter(), seed, 0, "warmup")
    t["serve.warmup_s"] = time.perf_counter() - t0
    t["setup_s"] = sum(t[k] for k in ("session.start_s", "etl.warehouse_build_s", "serve.open_s",
                                      "rag.hydrate_s", "serve.warmup_s"))
    return ctx, t, wh, warm_done


def kind_latency(done: list) -> float:
    """Geometric mean, over request kinds, of each kind's median latency in
    ms: every kind of view counts once, the heavy ones as much as the light,
    and no single order statistic of a mixed distribution sets the figure."""
    by_kind: dict[str, list] = {}
    for d in done:
        if d.error is None:
            by_kind.setdefault(d.kind, []).append((d.end - d.start) * 1000)
    return math.exp(sum(math.log(median(v)) for v in by_kind.values()) / len(by_kind))


def verify(wh_root: str, ctx: Context, done: list) -> list[str]:
    con = checks.connect(wh_root)
    bad: list[str] = []
    seen: dict[tuple, int] = {}
    questions = 0
    for d in done:
        if d.error is not None:
            continue
        if d.kind == "ask":
            if questions < CHECKED_QUESTIONS:
                questions += 1
                bad += checks.check_topk(d.params["question"], d.rows,
                                         [(i, text) for i, _, text in ctx.docs], TOP_K)
            continue
        key = (d.kind, d.sub)
        if seen.get(key, 0) < CHECKS_PER_KIND:
            seen[key] = seen.get(key, 0) + 1
            bad += checks.check_response(con, (d.kind, d.sub, d.params), d.rows, d.total)
    con.close()
    return bad


def layer_metrics(done: list, t: dict) -> dict:
    out = dict(t)
    for kind in KINDS:
        ds = [d for d in done if d.kind == kind and d.error is None]
        out[f"metrics.{kind}.build_ms"] = median([d.build * 1000 for d in ds])
        out[f"metrics.{kind}.collect_ms"] = median([d.collect * 1000 for d in ds])
    asks = [d for d in done if d.kind == "ask" and d.error is None]
    for step, name in (("search_build", "rag.search.build_ms"), ("search_collect", "rag.search.collect_ms"),
                       ("fanout", "rag.fanout_ms"), ("keywords", "rag.keywords_ms"),
                       ("synthesize", "rag.synthesize_ms")):
        out[name] = median([d.steps[step] * 1000 for d in asks])
    return out


def run(session, work, g: gen.Generated, seed: int, seconds: float, traced: bool) -> dict:
    tracer = Tracer(traced)
    undo = instrument(tracer) if traced else None
    ctx, t, wh, warm_done = setup(session, work, g, seed, tracer)
    if not traced:
        done, rate = run_clients(ctx, tracer, NoCounter(), seed, seconds, "run")
        metrics = dict(t, op_latency_ms=kind_latency(done), ops_per_s=rate, peak_rss_mb=session.peak_rss_mb(),
                       heap_live_mb=session.heap_live_mb())
    else:
        # the same request streams in four windows of half the run length:
        # untraced, traced, traced, untraced.  The traced latency against
        # the untraced one is the tracing overhead, with the JVM's warming
        # from window to window cancelled to first order
        counter = EngineCounter(session.spark.sparkContext)
        undo()
        tracer.enabled = False
        plain, _ = run_clients(ctx, tracer, NoCounter(), seed, seconds / 2, "run")
        undo = instrument(tracer)
        tracer.enabled = True
        traced_done = []
        for _ in range(2):
            traced_done += run_clients(ctx, tracer, counter, seed, seconds / 2, "run")[0]
        undo()
        tracer.enabled = False
        plain += run_clients(ctx, tracer, NoCounter(), seed, seconds / 2, "run")[0]
        metrics = layer_metrics(traced_done, t)
        metrics.update(traced_layers(tracer, counter))
        overhead = kind_latency(traced_done) / kind_latency(plain) - 1
        metrics["trace.overhead_pct"] = 100.0 * overhead
        done = traced_done + plain
    done += warm_done
    bad = check_warehouse(wh.root, g.expect_day1) if t["etl.warehouse_build_s"] else []
    bad += verify(wh.root, ctx, done)
    metrics.update(table_rows(wh.root))
    metrics.update(storage_metrics(wh.root))
    errors = [d.error for d in done if d.error is not None]
    return {"metrics": fill_absent(metrics), "tracer": tracer, "attempted": len(done), "failed": len(errors) + len(bad),
            "notes": [f"check failed: {b}" for b in bad] + [f"request failed: {e}" for e in errors[:5]]}
