"""Seeded candy-store year and its independent replay.

The generator writes the input layout the candy pipeline reads
(FIXTURES.md section A): `products.csv` (36-product catalog with opening
stock), `customers.csv` and one `transactions_YYYYMMDD.json` array per
day. It keeps the reference dataset's edge cases: null `qty` items,
all-null transactions, heavy day-to-day skew and stock set so that a
share of demand lines is cancelled.

The replay computes the expected `orders`, `order_line_items`,
`daily_summary` and `products_updated` with a plain sequential greedy
loop in file order. It shares no code with the engine.
"""

import csv
import datetime as dt
import json
import os
import random
from decimal import Decimal, ROUND_HALF_UP

N_PRODUCTS = 36
N_CUSTOMERS = 30
NULL_QTY_SHARE = 0.075
ALL_NULL_TX_SHARE = 0.015
CATEGORIES = [("Chocolate", "Truffles"), ("Chocolate", "Bars"),
              ("Gummy", "Bears"), ("Gummy", "Worms"),
              ("Hard Candy", "Lollipops"), ("Hard Candy", "Drops")]
SHAPES = ["Discs", "Coins", "Cubes", "Stars", "Hearts", "Spheres"]
FIRST_DAY = dt.date(2024, 1, 1)
CENT = Decimal("0.01")


def _money(x):
    return Decimal(x).quantize(CENT, rounding=ROUND_HALF_UP)


def _day_weights(rng, days):
    """Weekly pattern times noise, with one quiet day a week: the
    busiest day carries well over 8x the quietest (the reference's
    10-vs-1,587 transaction skew, scaled)."""
    out = []
    for d in range(days):
        dow = (FIRST_DAY + dt.timedelta(days=d)).weekday()
        base = 0.1 if dow == 2 else (1.6 if dow >= 5 else 1.0)
        out.append(base * rng.uniform(0.6, 1.4))
    return out


def generate(out_dir, seed, transactions, days=365):
    """Write one seeded year of inputs into `out_dir` and return the
    input sizes."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    products = []
    for pid in range(1, N_PRODUCTS + 1):
        cat, sub = CATEGORIES[(pid - 1) % len(CATEGORIES)]
        shape = SHAPES[(pid - 1) // len(CATEGORIES) % len(SHAPES)]
        price = _money(rng.uniform(0.5, 9.99))
        cost = _money(float(price) * rng.uniform(0.3, 0.8))
        products.append({"product_id": pid,
                         "product_name": f"{sub} {cat} {shape}"[:30],
                         "product_category": cat,
                         "product_subcategory": sub,
                         "product_shape": shape,
                         "sales_price": price, "cost_to_make": cost})

    weights = _day_weights(rng, days)
    total_w = sum(weights)
    per_day = [max(1, round(transactions * w / total_w)) for w in weights]
    tx_ids = rng.sample(range(10_000_000, 99_999_999), sum(per_day))

    demand = [0] * N_PRODUCTS
    n_items = n_null = n_tx = 0
    k = 0
    for d in range(days):
        date = FIRST_DAY + dt.timedelta(days=d)
        secs = sorted(rng.randrange(86_400_000_000) for _ in range(per_day[d]))
        docs = []
        for us in secs:
            all_null = rng.random() < ALL_NULL_TX_SHARE
            n = rng.choice((1, 2, 3, 3, 4, 5))
            items = []
            for p in rng.sample(range(N_PRODUCTS), n):
                qty = None if all_null or rng.random() < NULL_QTY_SHARE \
                    else rng.choice((1, 1, 2, 2, 3, 4, 5))
                if qty is None:
                    n_null += 1
                else:
                    demand[p] += qty
                items.append({"product_id": p + 1,
                              "product_name": products[p]["product_name"],
                              "qty": qty})
            ts = dt.datetime.combine(date, dt.time()) + dt.timedelta(microseconds=us)
            docs.append({"transaction_id": tx_ids[k],
                         "customer_id": rng.randint(1, N_CUSTOMERS),
                         "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                         "items": items})
            k += 1
            n_items += len(items)
        n_tx += len(docs)
        with open(os.path.join(out_dir, f"transactions_{date:%Y%m%d}.json"), "w") as f:
            json.dump(docs, f, separators=(",", ":"))

    # Opening stock below total demand for most products, so that the
    # catalog runs dry late in the year and lines start cancelling.
    for p, prod in enumerate(products):
        prod["stock"] = int(demand[p] * rng.uniform(0.74, 0.98))

    with open(os.path.join(out_dir, "products.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["product_id", "product_name", "product_category",
                    "product_subcategory", "product_shape", "sales_price",
                    "cost_to_make", "stock"])
        for p in products:
            w.writerow([p["product_id"], p["product_name"], p["product_category"],
                        p["product_subcategory"], p["product_shape"],
                        p["sales_price"], p["cost_to_make"], p["stock"]])
    with open(os.path.join(out_dir, "customers.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["customer_id", "first_name", "last_name", "email",
                    "address", "phone"])
        for c in range(1, N_CUSTOMERS + 1):
            w.writerow([c, f"First{c}", f"Last{c}", f"c{c}@example.com",
                        f"{c} Main St, Apt {c}, Springfield", f"555-01{c:02d}"])
    return {"days": days, "transactions": n_tx, "items": n_items,
            "null_qty_items": n_null, "products": N_PRODUCTS}


def replay(data_dir):
    """Expected report rows, by a sequential greedy loop over the day
    files in file order (carry-over stock, no daily reload)."""
    products = {}
    with open(os.path.join(data_dir, "products.csv")) as f:
        for r in csv.DictReader(f):
            products[int(r["product_id"])] = {
                "name": r["product_name"], "price": Decimal(r["sales_price"]),
                "cost": float(r["cost_to_make"]), "stock": int(r["stock"])}
    remaining = {pid: p["stock"] for pid, p in products.items()}
    orders, lines = {}, []
    days = sorted(n for n in os.listdir(data_dir) if n.startswith("transactions_"))
    for name in days:
        with open(os.path.join(data_dir, name)) as f:
            for tx in json.load(f):
                for item in tx["items"]:
                    qty, pid = item["qty"], item["product_id"]
                    if qty is None or pid not in products:
                        continue
                    filled = qty if remaining[pid] >= qty else 0
                    remaining[pid] -= filled
                    price = products[pid]["price"]
                    lines.append((tx["transaction_id"], pid, filled, price,
                                  price * filled))
                    o = orders.setdefault(tx["transaction_id"], {
                        "datetime": tx["timestamp"], "customer": tx["customer_id"],
                        "total": Decimal(0), "items": 0, "cost": 0.0})
                    o["total"] += price * filled
                    o["items"] += 1
                    o["cost"] += filled * products[pid]["cost"]
    daily = {}
    for o in orders.values():
        d = daily.setdefault(o["datetime"][:10], [0, Decimal(0), 0.0])
        d[0] += 1
        d[1] += _money(o["total"])
        d[2] += o["cost"]
    return {
        "orders": sorted((oid, o["datetime"], o["customer"], _money(o["total"]),
                          o["items"]) for oid, o in orders.items()),
        "order_line_items": sorted(lines, key=lambda l: (l[0], l[1])),
        "daily_summary": sorted((day, n, s, round(float(s) - c, 2))
                                for day, (n, s, c) in daily.items()),
        "products_updated": sorted((pid, p["name"], remaining[pid])
                                   for pid, p in products.items()),
    }


def _read_csv(path):
    with open(path) as f:
        r = csv.reader(f)
        return next(r), list(r)


def _close(a, b):
    return abs(Decimal(a) - Decimal(b)) <= CENT


HEADERS = {
    "orders.csv": ["order_id", "order_datetime", "customer_id", "total_amount",
                   "num_items"],
    "order_line_items.csv": ["order_id", "product_id", "quantity", "unit_price",
                             "line_total"],
    "daily_summary.csv": ["date", "num_orders", "total_sales", "total_profit"],
    "products_updated.csv": ["product_id", "product_name", "current_stock"],
    "sales_profit_forecast.csv": ["date", "forecasted_sales", "forecasted_profit"],
}


def check(out_dir, expected):
    """Compare the pipeline's five CSVs with the replay. Money columns
    match within 0.01; everything else exactly; the forecast CSV is
    checked for existence, schema and its date spine only. Returns a
    list of mismatch descriptions (empty when correct)."""
    errs = []

    def rows(name):
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            errs.append(f"{name}: missing")
            return None
        header, body = _read_csv(path)
        if header != HEADERS[name]:
            errs.append(f"{name}: header {header}")
            return None
        return body

    def compare(name, want, same):
        got = rows(name)
        if got is None:
            return
        if len(got) != len(want):
            errs.append(f"{name}: {len(got)} rows, expected {len(want)}")
            return
        bad = [i for i, (g, w) in enumerate(zip(got, want)) if not same(g, w)]
        if bad:
            errs.append(f"{name}: {len(bad)} rows differ, first row {bad[0]}: "
                        f"{got[bad[0]]} vs {want[bad[0]]}")

    compare("orders.csv", expected["orders"], lambda g, w:
            int(g[0]) == w[0] and g[1] == w[1] and int(g[2]) == w[2]
            and _close(g[3], w[3]) and int(g[4]) == w[4])
    compare("order_line_items.csv", expected["order_line_items"], lambda g, w:
            int(g[0]) == w[0] and int(g[1]) == w[1] and int(g[2]) == w[2]
            and _close(g[3], w[3]) and _close(g[4], w[4]))
    compare("daily_summary.csv", expected["daily_summary"], lambda g, w:
            g[0] == w[0] and int(g[1]) == w[1] and _close(g[2], w[2])
            and _close(g[3], w[3]))
    compare("products_updated.csv", expected["products_updated"], lambda g, w:
            int(g[0]) == w[0] and g[1] == w[1] and int(g[2]) == w[2])
    forecast = rows("sales_profit_forecast.csv")
    if forecast is not None and expected["daily_summary"]:
        last = dt.date.fromisoformat(expected["daily_summary"][-1][0])
        spine = [str(last + dt.timedelta(days=1))]
        if [r[0] for r in forecast] != spine:
            errs.append(f"sales_profit_forecast.csv: dates {[r[0] for r in forecast]}"
                        f", expected {spine}")
    return errs
