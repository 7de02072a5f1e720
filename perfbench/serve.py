"""``serve`` workload: the API read path.

Set-up generates a seeded history, loads the silver tables the routes
read with the write side's own functions (``ingest.bootstrap``), and
primes every route once.

The timed part is one closed-loop client cycling through ``ROUTES``:
every request opens its tables with ``silver.read_table`` (the latest
published snapshot, as the API must serve), calls the route function in
``plans.endpoints`` and collects the rows. Keys are Zipf-popular
accounts, pots and lists drawn from the seed. The client runs at least
``MIN_CYCLES`` cycles and stops at the first cycle boundary after
``seconds``, so every run measures whole cycles: the same route mix
whatever the speed. The traced run sends four cycles instead, the
middle two traced.

Output check (untimed): each response's row count and content hash
equal the answer computed from the ledger. The traced run also runs one
beat tick over the store (``beat.beat``) and checks its gold ``stats``.
"""

from __future__ import annotations

import hashlib
import math
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import beat
import lakegen
import tracing
from ingest import bootstrap, install_wrappers, read_layer
from metrics import Result

SIZES = {"history_files": 96, "receipts_per_block": 24, "n_accounts": 2000}
SMOKE = {"history_files": 8, "receipts_per_block": 16, "n_accounts": 40}
PAGE_SIZE = 30
MIN_CYCLES = 2  # 12 requests: two latencies per route

# the cycle of routes, with their class. Per class, the route shapes that
# differ in plan: donations_received and pot_donations share the
# donations_sent shape, the pots lists share the accounts-list shapes.
# The other aggregate routes (donors, pot_sponsors, pot_stats) cost ~3 s
# each and do not fit the run budget.
ROUTES = [
    ("account_donations_sent", "point"),
    ("accounts_page", "page"),
    ("stats", "agg"),
    ("account_active_pots", "point"),
    ("accounts_after", "page"),
    ("list_registrations", "point"),
]
ROUTE_CLASS = dict(ROUTES)

# silver tables the routes read
SERVE_TABLES = [
    "donations", "accounts", "pots", "pot_applications", "application_reviews",
    "list_registrations", "pot_payouts",
]


def make_requests(seed: int, chain: lakegen.Chain, cycles: int) -> list[tuple]:
    """``cycles`` passes over ROUTES with seeded, Zipf-popular keys."""
    rng = random.Random(seed)
    accounts = sorted(chain.ledger.accounts)
    pick_account = lakegen.zipf_picker(rng, chain.accounts)
    pick_list = lakegen.zipf_picker(rng, chain.list_ids, 0.8)
    n_pages = max(1, (len(accounts) + PAGE_SIZE - 1) // PAGE_SIZE)
    pick_page = lakegen.zipf_picker(rng, list(range(1, n_pages + 1)), 1.0)
    args = {
        "account_donations_sent": pick_account,
        "account_active_pots": pick_account,
        "list_registrations": pick_list,
        "accounts_page": pick_page,
        "accounts_after": lambda: rng.choice(accounts),
        "stats": lambda: None,
    }
    return [(name, args[name]()) for _ in range(cycles) for name, _ in ROUTES]


def execute(spark, store: str, req: tuple, tracer) -> list[tuple]:
    """Open the route's tables, build the route's plan, collect it, and
    project each row to the tuple the output check compares."""
    from django_indexer_spark.plans import domain, endpoints
    from django_indexer_spark.sources import silver

    name, arg = req

    def table(t):
        return silver.read_table(spark, f"{store}/{t}")

    with tracer.span("endpoints.plan"):
        if name == "account_donations_sent":
            df = endpoints.account_donations_sent(table("donations"), arg).select("dedup_key", "total_amount")
        elif name == "account_active_pots":
            apps = domain.current_applications(table("pot_applications"), table("application_reviews"))
            pots = table("pots").withColumnRenamed("id", "account_id")
            df = endpoints.account_active_pots(apps, pots, arg).select("account_id")
        elif name == "list_registrations":
            df = endpoints.list_registrations(table("list_registrations"), arg).select("registrant_id", "status")
        elif name == "accounts_page":
            df = endpoints.accounts_list(table("accounts"), page=arg, page_size=PAGE_SIZE).select("id")
        elif name == "accounts_after":
            df = endpoints.accounts_list(table("accounts"), after=(arg,), page_size=PAGE_SIZE).select("id")
        elif name == "stats":
            df = endpoints.stats(table("donations"), beat.payouts_usd(table("pot_payouts"))).select(
                "total_donations_count", "unique_donors", "unique_recipients", "total_payouts_usd"
            )
        else:
            raise ValueError(name)
    with tracer.span(f"endpoints.{ROUTE_CLASS[name]}_exec"):
        rows = df.collect()
    return [tuple(r) for r in rows]


def expected(ledger: lakegen.Ledger, req: tuple) -> list[tuple]:
    """The route's answer computed from the ledger."""
    name, arg = req
    dons = ledger.donation_rows()
    if name == "account_donations_sent":
        return [(r["dedup_key"], r["total_amount"]) for r in dons if r["donor_id"] == arg]
    if name == "account_active_pots":
        status = ledger.current_status()
        return [(p,) for p in ledger.pots if status.get((p, arg)) == "Approved"]
    if name == "list_registrations":
        return [(reg, row["status"]) for (lid, reg), (_, row) in ledger.registrations.items() if lid == arg]
    if name == "accounts_page":
        return [(i,) for i in sorted(ledger.accounts)[(arg - 1) * PAGE_SIZE: arg * PAGE_SIZE]]
    if name == "accounts_after":
        return [(i,) for i in sorted(i for i in ledger.accounts if i > arg)[:PAGE_SIZE]]
    if name == "stats":
        paid = [r for _, r in ledger.payouts.values() if r["paid"]]
        return [(
            len(dons), len({r["donor_id"] for r in dons}), len({r["recipient_id"] for r in dons}),
            sum(ledger.payout_usd(r) for r in paid) if paid else None,
        )]
    raise ValueError(name)


def digest(rows: list[tuple]) -> tuple[int, str]:
    canon = sorted(repr(tuple(None if v is None else str(v) for v in r)) for r in rows)
    return len(rows), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def run(spark, work, seed, seconds, tracer, sampler, smoke=False) -> Result:
    sz = SMOKE if smoke else SIZES
    lake, store = f"{work}/lake", f"{work}/silver"
    res = Result()

    t0 = time.perf_counter()
    chain, _ = lakegen.generate(
        seed, sz["history_files"], sz["receipts_per_block"], n_accounts=sz["n_accounts"]
    )
    lakegen.write_lake(chain.blocks, lake)
    bootstrap(spark, lake, store, SERVE_TABLES)
    requests = make_requests(seed, chain, 20)
    with ThreadPoolExecutor(4) as pool:  # prime every route once
        for fut in [pool.submit(execute, spark, store, r, tracing.Tracer(False))
                    for r in requests[: len(ROUTES)]]:
            fut.result()
    res.setup_s = time.perf_counter() - t0

    off = tracing.Tracer(False)
    if tracer.enabled:
        # four cycles, untraced-traced-traced-untraced, so the JVM's
        # warm-up drift cancels out of the difference between the
        # traced and the untraced cycles (the tracing overhead)
        n = len(ROUTES)
        passes = [client(spark, store, requests[k * n: (k + 1) * n], t, sampler, 0, first=k * n)
                  for k, t in enumerate([off, tracer, tracer, off])]
        base, traced = merged(passes[0::3]), merged(passes[1:3])
    else:
        base = traced = client(spark, store, requests, off, sampler, seconds)
        passes = [base]

    # -- output check (untimed) --------------------------------------
    if tracer.enabled:
        # one periodic-aggregate tick over the store, written as gold
        # (traced run only: per-layer domain.* metrics)
        ticks = beat.beat(spark, store, f"{work}/gold", chain.ledger)
        res.layers.update({f"domain.{k}_ms": v for k, v in ticks.items()})
        res.failed += beat.check_gold(f"{work}/gold", chain.ledger, res.failures)
    for p in passes:
        res.failures += p["errors"]
        for req, _, rows in p["done"]:
            want = expected(chain.ledger, req)
            if digest(rows) != digest(want):
                res.failed += 1
                res.failures.append(f"{req}: {len(rows)} rows, ledger {len(want)}")
        res.attempted += len(p["done"]) + len(p["errors"])
        res.failed += len(p["errors"])

    res.e2e = {
        "latency_ms": route_latency(base["done"]),
        "throughput_per_s": len(base["done"]) / base["window"],
    }
    if tracer.enabled:
        done = traced["done"]
        for cls in ("point", "page", "agg"):
            res.layers[f"endpoints.{cls}_p50_ms"] = tracing.median(
                [ms for req, ms, _ in done if ROUTE_CLASS[req[0]] == cls]
            )
            res.layers[f"endpoints.{cls}_exec_ms"] = tracing.median(tracer.durations_ms(f"endpoints.{cls}_exec"))
        res.layers.update(
            {
                "endpoints.plan_ms": tracing.median(tracer.durations_ms("endpoints.plan")),
                **read_layer(tracer),
                "trace.latency_ms": route_latency(done),
                "trace.overhead_ms": route_latency(done) - res.e2e["latency_ms"],
                "trace.instrument_ms": tracer.counts.get("instrument_ms", 0) / len(done) if done else 0.0,
                "checks.failed": float(res.failed),
                "rows_returned": float(sum(len(rows) for _, _, rows in done)),
            }
        )
    return res


def client(spark, store, requests, tracer, sampler, seconds, first=0) -> dict:
    """One closed-loop client over ``requests``: at least ``MIN_CYCLES``
    cycles, then up to the first cycle boundary after ``seconds``, or
    all of ``requests`` if they are fewer."""
    undo = install_wrappers(tracer) if tracer.enabled else []
    done, errors = [], []
    sampler.active.set()
    start = time.perf_counter()
    try:
        for i, req in enumerate(requests):
            cycle_done = i % len(ROUTES) == 0 and i >= MIN_CYCLES * len(ROUTES)
            if cycle_done and time.perf_counter() - start >= seconds:
                break
            t = time.perf_counter()
            try:
                with tracer.span("request", op=f"r{first + i}"):
                    rows = execute(spark, store, req, tracer)
            except Exception as e:  # a failed request is counted, not fatal
                errors.append(f"{req}: {type(e).__name__}: {e}"[:300])
                continue
            done.append((req, (time.perf_counter() - t) * 1e3, rows))
    finally:
        window = time.perf_counter() - start
        sampler.active.clear()
        for u in undo:
            u()
    return {"done": done, "errors": errors, "window": window}


def merged(passes: list[dict]) -> dict:
    return {
        "done": [d for p in passes for d in p["done"]],
        "errors": [e for p in passes for e in p["errors"]],
        "window": sum(p["window"] for p in passes),
    }


def route_latency(done: list) -> float:
    # geometric mean over routes of each route's median latency: every
    # route weighs the same, and no single route's value decides it (a
    # median over a mix of routes jumps between the routes' latencies)
    per_route = [
        tracing.median([ms for req, ms, _ in done if req[0] == name]) for name, _ in ROUTES
    ]
    return math.exp(statistics.fmean(math.log(ms) for ms in per_route if ms > 0))
