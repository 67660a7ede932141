"""Seeded input generators for the benchmark.

Two input families, both derived only from the workload seed:

* ``tables``: the TPC-H-shaped ``customer``, ``orders`` and ``lineitem``
  tables and the ``documents`` table, with the column names and physical
  types the query registry reads. One row group per file.
* ``square_feed``: a Square-shaped paged JSON feed for the six pipelines,
  laid out the way ``PagedJsonSource`` reads it (one directory per
  entity, ``page-NNNNN.jsonl`` files plus ``manifest.jsonl`` with
  ``min/max_created_at`` and ``rows`` per page). The generator also
  returns an independent model of the warehouse the pipelines must
  produce: per table a row count, a key checksum and a value sum.
"""

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the data table query spark join scan filter window hash sort "
         "merge batch stream row column value key order part line customer "
         "group agg fast slow big small vector max").split()

EPOCH_1995 = datetime(1995, 1, 1)


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def _ts(base, offsets_us):
    return pa.array((np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out_dir, seed, sf):
    """Write the tables the registry_jobs queries read, at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_line, n_doc = int(1500000 * sf), int(6000000 * sf), int(50000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    order_days = rng.integers(0, 2404, n_ord)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _ts(EPOCH_1995, order_days * 86400 * 10**6),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    l_ord = rng.integers(0, n_ord, n_line)
    ship_days = order_days[l_ord] + rng.integers(1, 122, n_line)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_ord, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995, ship_days * 86400 * 10**6)})

    lens = rng.integers(8, 90, n_doc)
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)) for k in lens]
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})


# ----------------------------------------------------------- square feed

HOUR = 3600


def _iso(epoch_s):
    return datetime.fromtimestamp(int(epoch_s), timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _write_pages(out_dir, entity, records, stamps, page_rows):
    """Pages of ``page_rows`` records in ``stamps`` order + manifest."""
    d = os.path.join(out_dir, entity)
    os.makedirs(d, exist_ok=True)
    manifest = []
    for p, lo in enumerate(range(0, len(records), page_rows)):
        chunk = records[lo:lo + page_rows]
        ts = stamps[lo:lo + page_rows]
        name = f"page-{p:05d}.jsonl"
        with open(os.path.join(d, name), "w") as f:
            f.write("\n".join(json.dumps(r, separators=(",", ":")) for r in chunk))
            f.write("\n")
        manifest.append(json.dumps({"file": name, "min_created_at": _iso(min(ts)),
                                    "max_created_at": _iso(max(ts)), "rows": len(chunk)}))
    with open(os.path.join(d, "manifest.jsonl"), "w") as f:
        f.write("\n".join(manifest) + "\n")
    return len(manifest)


def square_feed(out_dir, seed, n_payments, hours_after, page_rows=2000):
    """Write the feed and return ``(feed_info, model)``.

    The seed places the reference's edge cases (payments without money,
    orders without payments, second payments per order, payments for
    unknown orders, bad quantities, dangling variations) and the hour T0
    that splits history (preloaded) from the hourly runs after it.
    Payments arrive at about 2.5 per hour, so a 24 h lookback window
    holds about 60.
    """
    rng = np.random.default_rng([seed, 2])
    span_h = int(n_payments / 2.5)
    t0 = int(datetime(2023, 1, 1, tzinfo=timezone.utc).timestamp()) \
        + int(rng.integers(0, 24 * 365)) * HOUR + span_h * HOUR
    start = t0 - (span_h - hours_after) * HOUR
    n_orders = int(n_payments * 0.97)
    n_items, n_var, n_loc, n_cat = max(n_payments // 100, 20), max(n_payments // 10, 200), 25, 50

    locations = [f"loc-{i:02d}" for i in range(n_loc)]
    # --- payments -------------------------------------------------------
    order_has_pay = rng.random(n_orders) >= 0.02          # orders without payments
    paid = np.nonzero(order_has_pay)[0]
    first_t = start + np.sort(rng.integers(0, span_h * HOUR, len(paid)))
    first_t += (first_t % HOUR == 0)                       # never on an hour boundary
    second = paid[rng.random(len(paid)) < 0.03]            # second payments per order
    second_t = first_t[np.searchsorted(paid, second)] + rng.integers(600, 6 * HOUR, len(second))
    n_unknown = max(n_payments - len(paid) - len(second), 0)
    unknown_t = start + rng.integers(1, span_h * HOUR, n_unknown)
    pay_order = np.concatenate([paid, second, -1 - np.arange(n_unknown)])
    pay_t = np.concatenate([first_t, second_t, unknown_t])
    pay_t += (pay_t % HOUR == 0)
    order = np.argsort(pay_t, kind="stable")
    pay_order, pay_t = pay_order[order], pay_t[order]
    n_pay = len(pay_t)
    money_kind = rng.choice(3, n_pay, p=[0.89, 0.10, 0.01])  # total / amount only / none
    amounts = rng.integers(100, 50000, n_pay)
    payments = []
    for i in range(n_pay):
        o = int(pay_order[i])
        m = {"amount": int(amounts[i]), "currency": "USD"}
        payments.append({
            "id": f"pay-{i:07d}", "created_at": _iso(pay_t[i]), "updated_at": _iso(pay_t[i]),
            "location_id": locations[i % n_loc],
            "order_id": f"ord-{o:07d}" if o >= 0 else f"ord-x{-o:06d}",
            "status": "COMPLETED",
            "customer_id": f"cust-{i % 997:05d}" if i % 5 else None,
            "reference_id": None,
            "amount_money": m if money_kind[i] < 2 else None,
            "total_money": m if money_kind[i] == 0 else None})
    # --- catalog --------------------------------------------------------
    var_item = rng.integers(0, n_items, n_var)
    dangling = rng.random(n_var) < 0.02                     # dangling variations
    var_null_id = rng.random(n_var) < 0.005
    item_cat = rng.integers(-1, n_cat, n_items)             # -1: no category
    catalog = []
    for j in range(n_items):
        catalog.append({"id": f"item-{j:05d}", "type": "ITEM", "is_deleted": False,
                        "item_data": {"name": f"Item {j}", "categories":
                                      [{"id": f"cat-{item_cat[j]:03d}", "ordinal": 0}]
                                      if item_cat[j] >= 0 else []},
                        "item_variation_data": None})
    for v in range(n_var):
        parent = f"item-x{v:05d}" if dangling[v] else f"item-{var_item[v]:05d}"
        catalog.append({"id": None if var_null_id[v] else f"var-{v:06d}",
                        "type": "ITEM_VARIATION",
                        "is_deleted": (None, False, True)[v % 3],
                        "item_data": None,
                        "item_variation_data": {"name": f"Var {v}", "sku": f"SKU-{v:06d}",
                                                "item_id": parent}})
    # --- orders ---------------------------------------------------------
    n_lines = rng.integers(1, 8, n_orders)
    empty = rng.random(n_orders) < 0.01
    orders, lines_of = [], []
    bad_q = ["abc", "0", "-1", ""]
    for o in range(n_orders):
        items = []
        for k in range(0 if empty[o] else int(n_lines[o])):
            r = rng.random()
            qty = bad_q[int(r * 1000) % 4] if r < 0.03 else str(1 + int(r * 100) % 5)
            uid = None if 0.03 <= r < 0.04 else f"li-{o:07d}-{k}"
            var = int(rng.integers(0, n_var)) if r < 0.98 else -1   # -1: unknown variation
            price = int(rng.integers(100, 20000))
            items.append({"uid": uid, "name": f"Line {k}",
                          "catalog_object_id": f"var-{var:06d}" if var >= 0 else f"var-x{o:06d}",
                          "quantity": qty,
                          "base_price_money": {"amount": price, "currency": "USD"},
                          "total_money": {"amount": price * 2, "currency": "USD"}})
        orders.append({"id": f"ord-{o:07d}", "location_id": locations[o % n_loc],
                       "line_items": items})
        lines_of.append([(o * 8 + k, it["base_price_money"]["amount"]) for k, it in enumerate(items)
                         if it["uid"] is not None and it["quantity"] not in bad_q])
    order_t = np.full(n_orders, start)
    order_t[paid] = first_t
    # --- inventory / categories / locations ----------------------------
    states = ["IN_STOCK", "SOLD", None]
    inventory, inv_keys, inv_qty = [], [], []
    for v in range(n_var):
        for s_i, st in enumerate(states):
            if (v + s_i) % 3 == 2:
                continue
            loc = (v * 7 + s_i) % n_loc
            r = rng.random()
            q = "abc" if r < 0.02 else str(int(r * 60) - 10)
            cid = None if 0.02 <= r < 0.025 else f"var-{v:06d}"
            inventory.append({"catalog_object_id": cid, "catalog_object_type": "ITEM_VARIATION",
                              "state": st, "location_id": locations[loc], "quantity": q,
                              "calculated_at": _iso(start + v)})
            if cid is not None and q != "abc":
                inv_keys.append(v * 1000 + loc * 3 + s_i)
                inv_qty.append(float(q))
    categories = [{"id": None if c == n_cat else f"cat-{c:03d}", "type": "CATEGORY",
                   "is_deleted": False,
                   "category_data": {"name": None if c % 17 == 3 else f"Category {c}",
                                     "is_top_level": (None, True, False)[c % 3],
                                     "parent_category": None}}
                  for c in range(n_cat + 1)]
    locs = [{"id": loc, "name": None if i == 7 else f"Store {i}",
             "address": {"address_line_1": f"{i} Main St" if i % 4 else None,
                         "locality": "Springfield" if i % 4 else None,
                         "administrative_district_level_1": "IL" if i % 4 else None,
                         "postal_code": None},
             "timezone": "UTC", "status": "ACTIVE"} for i, loc in enumerate(locations)]

    pages = {
        "payments": _write_pages(out_dir, "payments", payments, pay_t, page_rows),
        "orders": _write_pages(out_dir, "orders", orders, order_t, page_rows),
        "catalog": _write_pages(out_dir, "catalog", catalog,
                                np.full(len(catalog), start), page_rows),
        "inventory": _write_pages(out_dir, "inventory", inventory,
                                  start + np.arange(len(inventory)), page_rows),
        "categories": _write_pages(out_dir, "categories", categories,
                                   np.full(len(categories), start), page_rows),
        "locations": _write_pages(out_dir, "locations", locs, np.full(n_loc, start), page_rows),
    }
    records = {"payments": n_pay, "orders": n_orders, "catalog": len(catalog),
               "inventory": len(inventory), "categories": len(categories), "locations": n_loc}

    # --- model ------------------------------------------------------------
    valid_pay = money_kind < 2
    pay_key = np.arange(n_pay)

    def state_until(t_end):
        """Warehouse after every payment with created_at <= t_end was seen."""
        seen = valid_pay & (pay_t <= t_end)
        pays = {"rows": int(seen.sum()), "keysum": int(pay_key[seen].sum()),
                "valsum": int(amounts[seen].sum())}
        live_orders = np.unique(pay_order[seen & (pay_order >= 0)])
        li = [x for o in live_orders for x in lines_of[o]]
        items = {"rows": len(li), "keysum": int(sum(k for k, _ in li)),
                 "valsum": int(sum(a for _, a in li))}
        return {"pos_payments": pays, "pos_order_items": items}

    var_ok = ~var_null_id
    cat_of_var = np.where(dangling, -1, item_cat[var_item])
    static = {
        "pos_catalog": {"rows": int(var_ok.sum()),
                        "keysum": int(np.arange(n_var)[var_ok].sum()),
                        "valsum": int((var_ok & (cat_of_var >= 0)).sum())},
        "pos_inventory": {"rows": len(inv_keys), "keysum": int(sum(inv_keys)),
                          "valsum": float(sum(inv_qty))},
        "pos_categories": {"rows": n_cat, "keysum": int(sum(range(n_cat))),
                           "valsum": sum(1 for c in range(n_cat) if c % 3 != 2)},
        "pos_locations": {"rows": n_loc - 1, "keysum": sum(range(n_loc)) - 7,
                          "valsum": sum(1 for i in range(n_loc) if i % 4 and i != 7)},
    }
    model = {
        "t0": _iso(t0),
        "t0_epoch": t0,
        "full": {**state_until(pay_t.max()), **static},
        "preload": {**state_until(t0), **static},
        "hourly": [{**state_until(t0 + h * HOUR), **static} for h in range(1, hours_after + 1)],
    }
    return {"records": records, "pages": pages, "t0_epoch": t0}, model
