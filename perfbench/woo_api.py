"""Seeded fake WooCommerce REST API for the ``woo_ingest`` workload.

``generate`` writes the whole API history to files once, at set-up:
orders (one JSON per line, sorted by creation time, with an index of
creation times and byte offsets), products with their category history,
and refunds per order. ``FileTransport`` serves the engine's transport
contract ``(path, params) -> (json_text, total_pages)`` from those
files, as of a fixed API clock. It is small to pickle (a directory
path, a clock and a few accumulators) and loads the files lazily in
each process that calls it.

``Expected`` replays the same history in pure Python and predicts the
warehouse the ETL runner should hold after each backfill or cycle.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import time
from collections import Counter, defaultdict
from datetime import datetime, timedelta
from decimal import Decimal

ISO = "%Y-%m-%dT%H:%M:%S"

#: Fixed delay added to every request, standing in for API round-trip
#: time. An assumption, not a measured figure: a short round trip that
#: still makes the backfill's ~450 refund requests a visible share of
#: its wall time. Real hosted stores answer more slowly, so this
#: understates what fewer or more parallel requests would save.
REQUEST_DELAY_S = 0.01

#: Counter names the transport accumulates (from the driver and from
#: executor tasks alike).
COUNTERS = (
    "orders_pages",
    "products_requests",
    "refunds_requests",
    "refunds_useful",
    "response_bytes",
    "wait_s",
    "call_s",
)

_CATEGORIES = [
    "Shoes", "Hats", "Sale", "Bags", "Outdoor", "Kids", "Winter", "Gifts",
]


def _iso(dt: datetime) -> str:
    return dt.strftime(ISO)


def _money_text(rng: random.Random, value: Decimal, bad_rate: float) -> str | None:
    """A Woo money string; with probability ``bad_rate`` a malformed one
    that the engine must coerce to 0.0."""
    if rng.random() < bad_rate:
        return rng.choice(["N/A", "12,50", "", "EUR 3.10", None])
    return f"{value:.2f}"


def generate(
    out_dir: str,
    seed: int,
    start: str,
    backfill_days: int,
    future_days: int,
    orders_per_day: int,
    n_products: int,
    change_hours: int,
) -> dict:
    """Write one seeded API history under ``out_dir``.

    Orders arrive from ``start`` on, only between 06:00 and 12:00, so an
    incremental cycle that advances the clock from noon to the next
    morning extracts nothing and triggers the runner's re-enrich pass.
    Every day has exactly ``orders_per_day`` orders, consecutive ones
    more than a minute apart: the runner's watermark rule (last order
    + 1 minute) then never skips an order.
    Every ``change_hours`` after the backfill a few products change
    categories; some of them get categories where they had none.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    t0 = datetime.fromisoformat(start)
    end = t0 + timedelta(days=backfill_days + future_days)

    # products: id -> [(valid_from_iso, [category names])]
    products: dict[int, list] = {}
    for pid in range(1, n_products + 1):
        cats = (
            []
            if rng.random() < 0.1
            else rng.sample(_CATEGORIES, rng.choice([1, 1, 2]))
        )
        products[pid] = [[_iso(t0 - timedelta(days=1)), cats]]
    tick = t0 + timedelta(days=backfill_days)
    while tick < end:
        tick += timedelta(hours=change_hours)
        for pid in rng.sample(range(1, n_products + 1), max(1, n_products // 50)):
            products[pid].append([_iso(tick), rng.sample(_CATEGORIES, rng.choice([1, 2]))])
    prices = {pid: Decimal(rng.randrange(199, 19999)) / 100 for pid in products}
    variations = {pid: (rng.random() < 0.3) for pid in products}

    orders: list[dict] = []
    refunds: dict[int, list] = {}
    day = t0
    oid = 1000
    gap = 62  # seconds between consecutive orders, at least
    open_s, close_s = 6 * 3600, 12 * 3600
    while day < end:
        # orders_per_day arrival times with every gap >= ``gap``: sorted
        # draws over the window less the gaps, the i-th shifted by i gaps
        slack = close_s - open_s - orders_per_day * gap
        draws = sorted(rng.randrange(slack) for _ in range(orders_per_day))
        for i, s in enumerate(draws):
            created = day + timedelta(seconds=open_s + s + i * gap)
            oid += rng.randint(1, 3)
            orders.append(_order(rng, oid, created, prices, variations))
            r = _refunds(rng, orders[-1])
            if r:
                refunds[oid] = r
        day += timedelta(days=1)

    idx_created, idx_offset = [], []
    with open(os.path.join(out_dir, "orders.jsonl"), "w", encoding="utf-8") as f:
        pos = 0
        for o in orders:
            line = json.dumps(o, separators=(",", ":")) + "\n"
            idx_created.append(o["date_created_gmt"])
            idx_offset.append(pos)
            f.write(line)
            pos += len(line.encode("utf-8"))
        idx_offset.append(pos)
    _dump(os.path.join(out_dir, "orders_index.json"), {"created": idx_created, "offset": idx_offset})
    _dump(os.path.join(out_dir, "products.json"), {str(k): v for k, v in products.items()})
    _dump(os.path.join(out_dir, "refunds.json"), {str(k): v for k, v in refunds.items()})
    return {"orders": len(orders), "refund_orders": len(refunds)}


def _dump(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, separators=(",", ":"))


def _order(rng: random.Random, oid: int, created: datetime, prices, variations) -> dict:
    lines = []
    line_id = oid * 10
    for _ in range(rng.choice([1, 1, 2, 2, 3, 4])):
        pid = rng.choice(list(prices))
        lines.append(_line(rng, line_id, pid, variations, prices))
        line_id += 1
    if rng.random() < 0.15:
        # the same (product, variation) grain on a second line
        src = lines[0]
        lines.append(dict(src, id=line_id, quantity=1))
        line_id += 1
    if rng.random() < 0.08:
        # a fee line: no product at all
        lines.append(
            {
                "id": line_id, "product_id": None, "variation_id": None,
                "sku": "", "name": "Handling fee", "quantity": 1,
                "price": "2.50", "total": "2.50", "subtotal": "2.50",
                "tax_class": "",
            }
        )
    gross = sum(
        (Decimal(li["total"]) for li in lines if _valid(li["total"])), Decimal(0)
    )
    tax = (gross * Decimal("0.24")).quantize(Decimal("0.01"))
    return {
        "id": oid,
        "status": rng.choice(["completed", "completed", "processing", "on-hold"]),
        "currency": "EUR",
        "customer_id": rng.randrange(1, 5000),
        "date_created_gmt": _iso(created),
        "date_created": _iso(created + timedelta(hours=2)),
        "discount_total": _money_text(rng, Decimal(rng.randrange(0, 500)) / 100, 0.02),
        "discount_tax": "0.00",
        "shipping_total": _money_text(rng, Decimal(rng.choice([0, 350, 500])) / 100, 0.02),
        "shipping_tax": "0.00",
        "cart_tax": f"{tax:.2f}",
        "total_tax": _money_text(rng, tax, 0.03),
        "total": _money_text(rng, gross + tax, 0.02),
        "billing": {"country": rng.choice(["GR", "DE", "FR", "IT", "ES"]), "city": "X"},
        "line_items": lines,
    }


def _line(rng, line_id, pid, variations, prices) -> dict:
    qty = rng.randint(1, 4)
    price = prices[pid]
    total = price * qty
    return {
        "id": line_id,
        "product_id": pid,
        "variation_id": (pid * 100 + rng.randint(1, 3)) if variations[pid] else 0,
        "sku": f"SKU-{pid}",
        "name": f"Product {pid}",
        "quantity": qty,
        "price": _money_text(rng, price, 0.02),
        "total": f"{total:.2f}",
        "subtotal": f"{total:.2f}",
        "tax_class": "",
    }


def _valid(text) -> bool:
    try:
        float(text)
        return True
    except (TypeError, ValueError):
        return False


def _refunds(rng: random.Random, order: dict) -> list:
    """Refunds on about one order in ten; each refunds one unit of one
    line's grain (the first line when that grain repeats, so the
    applied-once rule is exercised) or is an order-level amount only."""
    if rng.random() >= 0.1:
        return []
    out = []
    for _ in range(rng.choice([1, 1, 2])):
        li = rng.choice(order["line_items"])
        unit = Decimal(li["total"]) / max(li["quantity"], 1)
        if rng.random() < 0.2:
            out.append({"amount": f"{Decimal('1.50'):.2f}", "line_items": []})
            continue
        out.append(
            {
                "amount": f"{unit:.2f}",
                "line_items": [
                    {
                        "product_id": li["product_id"],
                        "variation_id": li["variation_id"],
                        "quantity": 1,
                        "total": f"{-unit:.2f}",
                    }
                ],
            }
        )
    return out


class FileTransport:
    """The engine's transport contract served from ``generate``'s files
    as of API clock ``clock``: orders created at or after the clock do
    not exist yet, and product categories are those valid at the clock.

    ``counters`` maps each name in ``COUNTERS`` to a Spark accumulator;
    calls on the driver and in executor tasks both add to them."""

    def __init__(self, root: str, clock: str, counters: dict | None = None):
        self.root = root
        self.clock = clock
        self.counters = counters
        self._files = None

    def __getstate__(self):
        state = dict(self.__dict__)
        state["_files"] = None
        return state

    def _load(self):
        if self._files is None:
            with open(os.path.join(self.root, "orders_index.json"), encoding="utf-8") as f:
                idx = json.load(f)
            with open(os.path.join(self.root, "products.json"), encoding="utf-8") as f:
                products = json.load(f)
            with open(os.path.join(self.root, "refunds.json"), encoding="utf-8") as f:
                refunds = json.load(f)
            self._files = (idx["created"], idx["offset"], products, refunds)
        return self._files

    def _orders(self, params: dict) -> tuple[str, int]:
        created, offset, _, _ = self._load()
        lo = bisect.bisect_right(created, params.get("after", ""))
        upper = self.clock
        if params.get("before"):
            upper = min(upper, params["before"])
        hi = bisect.bisect_left(created, upper)
        per = int(params.get("per_page", 100))
        n = max(0, hi - lo)
        pages = max(1, -(-n // per))
        a = lo + (int(params.get("page", 1)) - 1) * per
        b = min(hi, a + per)
        if a >= b:
            return "[]", pages
        with open(os.path.join(self.root, "orders.jsonl"), "rb") as f:
            f.seek(offset[a])
            chunk = f.read(offset[b] - offset[a]).decode("utf-8")
        return "[" + ",".join(chunk.splitlines()) + "]", pages

    def _products(self, params: dict) -> str:
        _, _, products, _ = self._load()
        out = []
        for pid in params["include"].split(","):
            hist = products.get(pid)
            if hist is None:
                continue
            cats = [c for since, c in hist if since <= self.clock][-1]
            out.append({"id": int(pid), "categories": [{"name": c} for c in cats]})
        return json.dumps(out)

    def __call__(self, path: str, params: dict) -> tuple[str, int]:
        t0 = time.perf_counter()
        time.sleep(REQUEST_DELAY_S)
        waited = time.perf_counter() - t0
        counts = Counter()
        if path == "orders":
            body, pages = self._orders(params)
            counts["orders_pages"] += 1
        elif path == "products":
            body, pages = self._products(params), 1
            counts["products_requests"] += 1
        elif path.startswith("orders/") and path.endswith("/refunds"):
            refunds = self._load()[3].get(path.split("/")[1], [])
            body, pages = json.dumps(refunds), 1
            counts["refunds_requests"] += 1
            counts["refunds_useful"] += 1 if refunds else 0
        else:
            raise ValueError(f"unexpected path {path}")
        if self.counters is not None:
            counts["response_bytes"] += len(body)
            for k, v in counts.items():
                self.counters[k].add(v)
            self.counters["wait_s"].add(waited)
            self.counters["call_s"].add(time.perf_counter() - t0)
        return body, pages


def make_counters(sc) -> dict:
    return {k: sc.accumulator(0.0 if k.endswith("_s") else 0) for k in COUNTERS}


def read_counters(counters: dict) -> dict:
    return {k: a.value for k, a in counters.items()}


# ---------------------------------------------------------------- oracle


def _f(text) -> float:
    """The engine's money coercion: a malformed or missing string is 0."""
    try:
        v = float(text)
    except (TypeError, ValueError):
        return 0.0
    return v


class Expected:
    """Pure-Python replay of what the runner must leave in the warehouse
    after a backfill and each incremental cycle, computed from the
    generator's files alone."""

    def __init__(self, root: str):
        with open(os.path.join(root, "orders.jsonl"), encoding="utf-8") as f:
            self.orders = [json.loads(line) for line in f]
        with open(os.path.join(root, "products.json"), encoding="utf-8") as f:
            self.products = json.load(f)
        with open(os.path.join(root, "refunds.json"), encoding="utf-8") as f:
            self.refunds = json.load(f)
        self.created = [o["date_created_gmt"] for o in self.orders]
        self.loaded: list[dict] = []
        self.snap: dict[tuple, str | None] = {}  # (order_id, line_id) -> snapshot
        self.watermark: str | None = None

    def _cats(self, pid, clock: str) -> str | None:
        hist = self.products.get(str(pid)) if pid is not None else None
        if not hist:
            return None
        cats = [c for since, c in hist if since <= clock][-1]
        return " | ".join(cats) if cats else None

    def _ingest(self, lo: str, hi: str, clock: str) -> int:
        a = bisect.bisect_right(self.created, lo)
        b = bisect.bisect_left(self.created, hi)
        batch = self.orders[a:b]
        for o in batch:
            for li in o["line_items"]:
                self.snap[(o["id"], li["id"])] = self._cats(li["product_id"], clock)
        self.loaded.extend(batch)
        if batch:
            last = datetime.fromisoformat(batch[-1]["date_created_gmt"])
            self.watermark = _iso(last + timedelta(minutes=1))
        return len(batch)

    def _re_enrich(self, clock: str) -> None:
        by_line = {
            (o["id"], li["id"]): li["product_id"] for o in self.loaded for li in o["line_items"]
        }
        for key, snap in self.snap.items():
            if snap is None:
                self.snap[key] = self._cats(by_line[key], clock)

    def backfill(self, d1: str, d2: str, clock: str) -> None:
        self._ingest(_iso(datetime.fromisoformat(d1)), _iso(datetime.fromisoformat(d2)), clock)
        self._re_enrich(clock)

    def cycle(self, clock: str) -> int:
        n = self._ingest(self.watermark or "", clock, clock)
        if n == 0:
            self._re_enrich(clock)
        return n

    def state(self) -> dict:
        """The checked facts: counts, Σ net_after_refunds, refunds per
        (order, product, variation) grain, the watermark, and the
        multiset of (order, product, category snapshot)."""
        n_items = 0
        net = 0.0
        grains: dict[tuple, list] = defaultdict(lambda: [0, 0.0])
        cats: Counter = Counter()
        for o in self.loaded:
            refunds = self.refunds.get(str(o["id"]), [])
            refund_total = sum(_f(r["amount"]) for r in refunds)
            net += _f(o["total"]) - _f(o["total_tax"]) - refund_total
            for li in o["line_items"]:
                n_items += 1
                cats[(o["id"], li["product_id"] or 0, self.snap[(o["id"], li["id"])])] += 1
            for r in refunds:
                for rl in r["line_items"]:
                    g = (o["id"], rl["product_id"] or 0, rl["variation_id"] or 0)
                    grains[g][0] += rl["quantity"]
                    grains[g][1] += _f(rl["total"])
        return {
            "orders": len(self.loaded),
            "items": n_items,
            "net_after_refunds": round(net, 2),
            "refund_grains": {g: (q, round(t, 2)) for g, (q, t) in grains.items()},
            "watermark": self.watermark,
            "categories": cats,
        }
