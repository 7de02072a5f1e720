"""Seeded NEAR-lake block generator with a truth ledger.

``generate(seed, ...)`` builds a chain of StreamerMessage-shaped blocks
(the shape ``sources.lake.LAKE_MESSAGE_SCHEMA`` reads) whose receipts
cover the kinds ``streaming.pipeline.ENTITY_PIPELINES`` routes:

- direct and pot donations (``donate`` on the donate contract / a pot);
- pot deployments, applications, application reviews, payouts
  (``chef_set_payouts`` pending rows, ``transfer_payout_callback``
  fulfilments);
- list creation, ``register_batch``, ``upvote`` on the lists contract;
- nadabot ``add_stamp`` EVENT_JSON logs on a registry;
- social-profile ``set`` on social.near;
- factory and registry deployments (``new``).

Donors, recipients, voters and stamp users are drawn Zipf-skewed from
one account population. A share of blocks is replayed verbatim later in
the chain (same height, so the merges see equal versions), a share of
donations is re-emitted with a new amount at a later height
(last-writer-wins), and a share of registrations is re-submitted later
(first-writer-wins keeps the original).

The ``Ledger`` applies the same receipts in plain Python and holds the
expected final state of the entities the benchmark checks.

The receipt mix, the shares and the population sizes below are
assumptions, not measured traffic; README.md lists each with what it
stands for.
"""

from __future__ import annotations

import base64
import bisect
import itertools
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

DONATE = "donate.potlock.near"
LISTS = "lists.potlock.near"
SOCIAL = "social.near"
FACTORY = "v1.potfactory.potlock.near"
REGISTRY = "v1.registry.nadabot.near"
TOKEN = "near"
YOCTO = 10**24

BASE_NS = 1_700_000_000_123_000_000  # off whole seconds: no as-of price ties
BLOCK_NS = 1_100_000_000
PRICE_STEP_S = 3600


def b64(obj) -> str:
    return base64.b64encode(json.dumps(obj, separators=(",", ":")).encode()).decode()


def zipf_picker(rng: random.Random, items: list, s: float = 1.1, draw: random.Random | None = None):
    """Return a function drawing from ``items`` with Zipf(s) popularity
    over an ``rng``-shuffled order of the list; draws use ``draw`` (default
    ``rng``), so pickers that share an order agree on the hot keys."""
    order = list(items)
    rng.shuffle(order)
    draw = draw or rng
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(order))))
    total = cum[-1]

    def pick() -> str:
        return order[bisect.bisect_left(cum, draw.random() * total)]

    return pick


def version(height: int, ordinal: int) -> int:
    return (height << 32) + ordinal


def usd(amount: int, price: float) -> Decimal:
    """USD of a yocto amount at ``price``, rounded to cents the way
    domain.price_donations does (amounts are whole 1/100 NEAR)."""
    return (Decimal(amount) / YOCTO * Decimal(str(price))).quantize(
        Decimal("0.01"), rounding=ROUND_HALF_UP
    )


@dataclass
class Ledger:
    """Expected final silver state, keyed like the silver natural keys."""

    donations: dict = field(default_factory=dict)  # dedup_key -> (version, row)
    accounts: set = field(default_factory=set)
    registrations: dict = field(default_factory=dict)  # (list, registrant) -> (version, row)
    applications: dict = field(default_factory=dict)  # (pot, applicant) -> (version, status)
    reviews: dict = field(default_factory=dict)  # (pot, applicant, reviewer, ms) -> (version, status)
    upvotes: dict = field(default_factory=dict)  # (list, account) -> version
    lists: dict = field(default_factory=dict)  # id -> version
    pots: dict = field(default_factory=dict)  # id -> (version, row)
    payouts: dict = field(default_factory=dict)  # (pot, recipient) -> (version, row)
    stamps: dict = field(default_factory=dict)  # (user, provider, date) -> version
    profiles: dict = field(default_factory=dict)  # account -> version
    prices: list = field(default_factory=list)  # [(unix_s, price)] ascending

    def last(self, table: dict, key, ver: int, row) -> None:
        cur = table.get(key)
        if cur is None or ver >= cur[0]:
            table[key] = (ver, row)

    def first(self, table: dict, key, ver: int, row) -> None:
        cur = table.get(key)
        if cur is None or ver < cur[0]:
            table[key] = (ver, row)

    # -- derived views the output checks compare against ---------------

    def donation_rows(self) -> list[dict]:
        return [row for _, row in self.donations.values()]

    def price_at(self, unix_ms: int) -> float:
        """Nearest price point within +-24 h (the series is dense, so one
        always exists)."""
        t = unix_ms / 1000
        i = bisect.bisect_left(self.prices, (t, -1.0))
        cands = [self.prices[j] for j in (i - 1, i) if 0 <= j < len(self.prices)]
        return min(cands, key=lambda p: abs(p[0] - t))[1]

    def donation_usd(self, row: dict) -> Decimal:
        return usd(int(row["total_amount"]), self.price_at(row["donated_ms"]))

    def payout_usd(self, row: dict) -> Decimal:
        return usd(int(row["amount"]), 1.0)

    def current_status(self) -> dict:
        """(pot, applicant) -> status after the latest review
        (domain.current_applications: reviewed_ms desc, version desc)."""
        latest: dict = {}
        for (pot, app, _rev, ms), (ver, status) in self.reviews.items():
            cur = latest.get((pot, app))
            if cur is None or (ms, ver) > cur[0]:
                latest[(pot, app)] = ((ms, ver), status)
        return {
            k: latest[k][1] if k in latest else status
            for k, (_, status) in self.applications.items()
        }

    def row_counts(self) -> dict[str, int]:
        return {
            "donations": len(self.donations),
            "accounts": len(self.accounts),
            "list_registrations": len(self.registrations),
            "pot_applications": len(self.applications),
            "application_reviews": len(self.reviews),
            "list_upvotes": len(self.upvotes),
            "lists": len(self.lists),
            "pots": len(self.pots),
            "pot_payouts": len(self.payouts),
            "nadabot_stamps": len(self.stamps),
            "social_profiles": len(self.profiles),
        }


@dataclass
class Chain:
    blocks: list[dict]  # lake messages in file order (replays included)
    ledger: Ledger
    accounts: list[str]
    pots: list[str]
    list_ids: list[int]
    rows_per_block: list[int]  # receipt rows per block, file order


class _Gen:
    def __init__(self, seed: int, n_accounts: int, n_pots: int, n_lists: int):
        self.rng = random.Random(seed)
        self.accounts = [f"user{i}.near" for i in range(n_accounts)]
        self.pots = [f"pot{j}.{FACTORY}" for j in range(n_pots)]
        self.list_ids = list(range(1, n_lists + 1))
        self.pick_account = zipf_picker(self.rng, self.accounts)
        self.pick_pot = zipf_picker(self.rng, self.pots, 0.8)
        self.pick_list = zipf_picker(self.rng, self.list_ids, 0.8)
        self.ledger = Ledger()
        self.next_donation = 1
        self.next_reg = 1
        self.issued: list[tuple[int, str | None, dict]] = []  # donations to update later
        self.registered: list[tuple[int, str]] = []
        self.applied: list[tuple[str, str]] = []
        self.deployed_pots: list[str] = []
        self.next_height = 1000

    # -- receipt builders: (receiver, signer, method, args, success, logs)

    def donation(self, height: int, ordinal: int, ms: int):
        rng, led = self.rng, self.ledger
        if self.issued and rng.random() < 0.08:
            on_chain_id, pot, payload = rng.choice(self.issued)
            payload = dict(payload, total_amount=str(rng.randint(1, 500) * 10**22))
        else:
            on_chain_id = self.next_donation
            self.next_donation += 1
            donor = self.pick_account()
            pot = self.pick_pot() if self.deployed_pots and rng.random() < 0.35 else None
            if pot is not None and pot not in self.deployed_pots:
                pot = rng.choice(self.deployed_pots)
            payload = {
                "id": on_chain_id,
                "donor_id": donor,
                "total_amount": str(rng.randint(1, 500) * 10**22),
                "protocol_fee": "0",
                "donated_at_ms": ms,
            }
            if pot is None:
                payload["recipient_id"] = self.pick_account()
            else:
                payload["project_id"] = self.pick_account()
                payload["matching_pool"] = rng.random() < 0.2
            self.issued.append((on_chain_id, pot, payload))
        receiver = pot or DONATE
        row = {
            "dedup_key": f"{on_chain_id}|{pot or '__direct__'}",
            "donor_id": payload["donor_id"],
            "recipient_id": payload.get("recipient_id") or payload.get("project_id"),
            "pot_id": pot,
            "matching_pool": bool(payload.get("matching_pool", False)),
            "total_amount": payload["total_amount"],
            "donated_ms": payload["donated_at_ms"],
        }
        led.last(led.donations, row["dedup_key"], version(height, ordinal), row)
        led.accounts.update({row["donor_id"], row["recipient_id"], TOKEN, receiver, row["donor_id"]})
        return receiver, payload["donor_id"], "donate", {}, payload, []

    def deploy_pot(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        candidates = [p for p in self.pots if p not in led.pots]
        pot = candidates[0] if candidates else self.rng.choice(self.pots)
        owner, chef, admin = self.pick_account(), self.pick_account(), self.pick_account()
        args = {
            "owner": owner,
            "chef": chef,
            "admins": [admin],
            "pot_name": pot.split(".")[0],
            "max_projects": 20,
            "public_round_start_ms": ms - 10**9,
            "public_round_end_ms": ms + 10**10,
        }
        led.first(led.pots, pot, version(height, ordinal), {"owner": owner})
        led.accounts.update({pot, owner, chef, admin, owner})  # deployer = owner
        if pot not in self.deployed_pots:
            self.deployed_pots.append(pot)
        return pot, owner, "new", args, None, []

    def apply(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        pot = self.rng.choice(self.deployed_pots)
        applicant = self.pick_account()
        status = "Approved" if self.rng.random() < 0.5 else "Pending"
        payload = {"project_id": applicant, "message": "hi", "status": status, "submitted_at": ms}
        led.last(led.applications, (pot, applicant), version(height, ordinal), status)
        self.applied.append((pot, applicant))
        return pot, applicant, "apply", {}, payload, []

    def review(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        pot, applicant = self.rng.choice(self.applied)
        chef = self.pick_account()
        status = self.rng.choice(["Approved", "Rejected"])
        led.last(led.reviews, (pot, applicant, chef, ms), version(height, ordinal), status)
        payload = {"status": status, "review_notes": "ok", "updated_at": ms}
        return pot, chef, "chef_set_application_status", {"project_id": applicant}, payload, []

    def payout(self, height: int, ordinal: int, ms: int):
        led, rng = self.ledger, self.rng
        pot = rng.choice(self.deployed_pots)
        recipient = self.pick_account()
        amount = str(rng.randint(1, 100) * 10**22)
        ver = version(height, ordinal)
        if rng.random() < 0.5:
            args = {"payouts": [{"project_id": recipient, "amount": amount}]}
            led.last(led.payouts, (pot, recipient), ver, {"amount": amount, "paid": False})
            return pot, self.pick_account(), "chef_set_payouts", args, None, []
        args = {"payout": {"project_id": recipient, "amount": amount, "paid_at": ms}}
        led.last(led.payouts, (pot, recipient), ver, {"amount": amount, "paid": True})
        return pot, pot, "transfer_payout_callback", args, None, []

    def create_list(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        pending = [i for i in self.list_ids if i not in led.lists]
        list_id = pending[0] if pending else self.rng.choice(self.list_ids)
        owner = self.pick_account()
        payload = {
            "id": list_id, "owner": owner, "admins": [], "name": f"list{list_id}",
            "default_registration_status": "Approved", "admin_only_registrations": False,
            "created_at": ms, "updated_at": ms,
        }
        led.first(led.lists, list_id, version(height, ordinal), None)
        return LISTS, owner, "create_list", {}, payload, []

    def register(self, height: int, ordinal: int, ms: int):
        led, rng = self.ledger, self.rng
        if self.registered and rng.random() < 0.1:
            list_id, registrant = rng.choice(self.registered)  # re-submission
        else:
            list_id, registrant = self.pick_list(), self.pick_account()
            self.registered.append((list_id, registrant))
        reg_id = self.next_reg
        self.next_reg += 1
        status = rng.choice(["Approved", "Pending", "Rejected"])
        reg = {
            "id": reg_id, "registrant_id": registrant, "list_id": list_id, "status": status,
            "submitted_ms": ms, "updated_ms": ms, "registered_by": registrant,
        }
        led.first(led.registrations, (list_id, registrant), version(height, ordinal),
                  {"id": reg_id, "status": status})
        return LISTS, registrant, "register_batch", {}, [reg], []

    def upvote(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        list_id, voter = self.pick_list(), self.pick_account()
        key = (list_id, voter)
        ver = version(height, ordinal)
        if key not in led.upvotes or ver < led.upvotes[key]:
            led.upvotes[key] = ver
        return LISTS, voter, "upvote", {"list_id": list_id}, None, []

    def stamp(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        user, provider = self.pick_account(), self.rng.randint(1, 5)
        day = (BASE_NS + height * BLOCK_NS) // (86400 * 10**9)
        key = (user, provider, day)
        ver = version(height, ordinal)
        if key not in led.stamps or ver < led.stamps[key]:
            led.stamps[key] = ver
        log = "EVENT_JSON:" + json.dumps(
            {"standard": "nadabot", "version": "1.0.0", "event": "add_stamp",
             "data": [{"stamp": {"user_id": user, "provider_id": provider}}]}
        )
        return REGISTRY, user, "add_stamp", {}, None, [log]

    def profile(self, height: int, ordinal: int, ms: int):
        led = self.ledger
        user = self.pick_account()
        led.profiles[user] = max(led.profiles.get(user, 0), version(height, ordinal))
        args = {"data": {user: {"profile": {"name": user.split(".")[0]}}}}
        return SOCIAL, user, "set", args, None, []


def _outcome(height: int, shard: int, pos: int, receipt) -> dict:
    receiver, signer, method, args, success, logs = receipt
    status = {"SuccessValue": b64(success)} if success is not None else {"SuccessReceiptId": "x"}
    return {
        "receipt": {
            "receipt_id": f"r{height}_{shard}_{pos}",
            "predecessor_id": FACTORY if method == "new" else signer,
            "receiver_id": receiver,
            "receipt": {
                "Action": {
                    "signer_id": signer,
                    "actions": [{"FunctionCall": {"method_name": method, "args": b64(args)}}],
                }
            },
        },
        "execution_outcome": {"outcome": {"logs": logs, "status": status}},
    }


# receipt-kind mix: weights per ordinary block receipt (assumed; see
# README.md, "Assumptions")
MIX = [
    ("donation", 60),
    ("apply", 5),
    ("review", 3),
    ("payout", 4),
    ("register", 10),
    ("upvote", 6),
    ("stamp", 7),
    ("profile", 5),
]


def generate(
    seed: int,
    n_files: int,
    receipts_per_block: int = 24,
    n_accounts: int = 2000,
    n_pots: int = 12,
    n_lists: int = 8,
    replay_share: float = 0.05,
    gen: _Gen | None = None,
) -> tuple[Chain, _Gen]:
    """Generate ``n_files`` lake files (blocks plus replays). Pass the
    returned generator back in as ``gen`` to extend the same chain; the
    ledger then covers every part so far."""
    g = gen or _Gen(seed, n_accounts, n_pots, n_lists)
    rng = g.rng
    kinds = [k for k, _ in MIX]
    weights = [w for _, w in MIX]
    blocks: list[dict] = []
    rows: list[int] = []
    i = 0
    while len(blocks) < n_files:
        height = g.next_height + i
        i += 1
        ms = (BASE_NS + height * BLOCK_NS) // 10**6
        plan: list[str] = []
        if gen is None and i == 1:
            plan += ["deploy_pot"] * (len(g.pots) // 2) + ["create_list"] * len(g.list_ids)
            plan += ["deploy_factory", "deploy_registry"]
        elif rng.random() < 0.02:
            plan.append("deploy_pot")
        while len(plan) < receipts_per_block:
            kind = rng.choices(kinds, weights)[0]
            if kind in ("apply", "payout") and not g.deployed_pots:
                kind = "donation"
            if kind == "review" and not g.applied:
                kind = "donation"
            plan.append(kind)
        shards: dict[int, list] = {0: [], 1: []}
        for kind in plan:
            shard = 0 if rng.random() < 0.6 else 1
            pos = len(shards[shard])
            ordinal = (shard << 20) + pos
            if kind == "deploy_factory":
                owner = g.pick_account()
                g.ledger.accounts.update({FACTORY, owner})
                receipt = (FACTORY, owner, "new", {"owner": owner, "admins": []}, None, [])
            elif kind == "deploy_registry":
                owner = g.pick_account()
                g.ledger.accounts.update({REGISTRY, owner})
                receipt = (REGISTRY, owner, "new", {"owner": owner, "admins": []}, None, [])
            else:
                receipt = getattr(g, kind)(height, ordinal, ms)
            shards[shard].append(_outcome(height, shard, pos, receipt))
        msg = {
            "block": {"header": {"height": height, "timestamp": BASE_NS + height * BLOCK_NS}},
            "shards": [
                {"shard_id": s, "receipt_execution_outcomes": outs}
                for s, outs in shards.items()
                if outs
            ],
        }
        blocks.append(msg)
        rows.append(len(plan))
        if len(blocks) < n_files and rng.random() < replay_share:
            # at-least-once redelivery of an earlier block of this part
            j = rng.randrange(len(blocks))
            blocks.append(blocks[j])
            rows.append(rows[j])
    g.next_height += i
    _extend_prices(g, g.next_height)
    return Chain(blocks, g.ledger, g.accounts, g.pots, g.list_ids, rows), g


def _extend_prices(g: _Gen, end_height: int) -> None:
    """Hourly NEAR price points covering every block so far (values are
    powers of two, so USD conversion is exact to the cent)."""
    first = BASE_NS // 10**9 - PRICE_STEP_S * 24
    last = (BASE_NS + end_height * BLOCK_NS) // 10**9 + PRICE_STEP_S * 24
    prices = g.ledger.prices
    t = prices[-1][0] + PRICE_STEP_S if prices else first - first % PRICE_STEP_S
    while t <= last:
        prices.append((t, g.rng.choice([1.0, 2.0, 4.0])))
        t += PRICE_STEP_S


def write_lake(blocks: list[dict], lake_dir: str, first_index: int = 0) -> None:
    """One JSON file per block. File mtimes follow block order so the
    file stream source picks files up in chain order."""
    os.makedirs(lake_dir, exist_ok=True)
    for k, msg in enumerate(blocks):
        idx = first_index + k
        path = os.path.join(lake_dir, f"block_{idx:07d}_{msg['block']['header']['height']}.json")
        with open(path, "w") as f:
            json.dump(msg, f, separators=(",", ":"))
        os.utime(path, (1_600_000_000 + idx, 1_600_000_000 + idx))
