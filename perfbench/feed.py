"""Seeded, scalable gmall feed for the warehouse workloads, with the
answers the warehouse must give for it, computed in pure Python.

The record shapes are those of ``sources/gmall_fixtures.py``; this
module scales them up and draws every choice from one seeded RNG:
Zipf-skewed mids and skus, ~1 % dirty log lines, ``is_new`` lies,
same-day and next-day revisits, bounce and timeout sessions, order
details on and just past the +-5 s interval-join bound, payments on
and just past the +15 min bound, CDC deletes, update rows no config
routes, and an unknown table.

Expected answers follow the engine's documented semantics: dirty
lines fail the JSON parse; ``start`` events and page events split on
the ``start`` field; displays explode one row each; a CDC delete or
an unrouted row never reaches DWD; order details join their order
within +-5 s (inclusive); payments join order-wide rows within
[order, order + 15 min]; GMV per day sums ``split_total_amount`` of
the joined details by the order's UTC date; a daily unique visitor is
the first session entry (no ``last_page_id``) per mid per UTC day.
The whole feed lands in one file per source, so every streaming job
sees it in one micro-batch and no row is late against the 1 s
watermark.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from collections import Counter, defaultdict
from dataclasses import dataclass
from decimal import Decimal

from gmall_flink_2021_spark.sources import gmall_fixtures as fx

SECOND = 1_000
MINUTE = fx.MINUTE
HOUR = 60 * MINUTE
DAY = fx.DAY
# orders and sessions start inside this span after fx.BASE_TS, so the
# feed covers two UTC dates (2020-09-13 and 2020-09-14)
SPAN_MS = 30 * HOUR
JUMP_GAP_MS = 11 * MINUTE          # idle gap inside a "timeout" session


class _Zipf:
    """Draws 1..n with weight 1/k**s (hot keys first)."""

    def __init__(self, rng: random.Random, n: int, s: float = 1.1):
        self.rng = rng
        self.cum = list(itertools.accumulate(1.0 / k ** s
                                             for k in range(1, n + 1)))

    def __call__(self) -> int:
        x = self.rng.random() * self.cum[-1]
        return bisect.bisect_left(self.cum, x) + 1


def _t(ms: int) -> str:
    return dt.datetime.fromtimestamp(
        ms / 1000, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def _date(ms: int) -> str:
    return dt.datetime.fromtimestamp(
        ms / 1000, dt.timezone.utc).strftime("%Y%m%d")


def _cents(rng: random.Random, lo: int, hi: int) -> Decimal:
    return Decimal(rng.randint(lo * 100, hi * 100)) / 100


@dataclass
class Feed:
    """One generated feed: the ODS files' contents plus what the
    warehouse must answer for them."""

    log_lines: list[str]
    cdc_rows: list[dict]
    expected: dict

    @property
    def events(self) -> int:
        """Input records: ODS log lines plus CDC rows."""
        return len(self.log_lines) + len(self.cdc_rows)


def build(seed: int, sessions: int, orders: int) -> Feed:
    rng = random.Random(seed)
    n_mids = max(50, sessions // 3)
    n_skus = max(20, orders // 20)
    n_users = max(20, orders // 4)
    n_tm, n_spu, n_c3, n_prov = 8, max(5, n_skus // 4), 12, 6
    mid_of, sku_of, user_of = (_Zipf(rng, n_mids), _Zipf(rng, n_skus),
                               _Zipf(rng, n_users))

    # ------------------------------------------------------------ logs
    events: list[tuple[int, dict]] = []
    seen_mids: set[int] = set()
    for _ in range(sessions):
        mid = mid_of()
        t = fx.BASE_TS + rng.randrange(SPAN_MS)
        returning = mid in seen_mids
        seen_mids.add(mid)
        # a returning mid that still claims is_new=1 is the lie the
        # DWM is_new repair exists for
        claim = "1" if not returning or rng.random() < 0.3 else "0"
        if rng.random() < 0.8:
            events.append((t, {
                "common": fx._common(rng, mid, claim),
                "start": {"entry": rng.choice(["icon", "notice", "install"]),
                          "loading_time": rng.randint(500, 3000),
                          "open_ad_id": rng.randint(1, 20),
                          "open_ad_ms": rng.randint(100, 5000),
                          "open_ad_skip_ms": 0},
                "ts": t}))
        bounce = rng.random() < 0.2
        timeout = not bounce and rng.random() < 0.1
        n_pages = 1 if bounce else rng.randint(2, 6)
        last = None
        for i in range(n_pages):
            t += (JUMP_GAP_MS if timeout and i == 1
                  else rng.randint(1, 30) * SECOND)
            page_id = rng.choice(fx.PAGES) if i else "home"
            page = {"page_id": page_id, "last_page_id": last,
                    "during_time": rng.randint(1000, 30_000)}
            if page_id == "good_detail":
                page["item"], page["item_type"] = str(sku_of()), "sku_id"
            elif page_id == "good_list":
                page["item"] = rng.choice(fx.KEYWORD_PHRASES)
                page["item_type"] = "keyword"
            ev = {"common": fx._common(rng, mid, claim), "page": page,
                  "ts": t}
            if page_id in ("home", "good_list"):
                ev["displays"] = [
                    {"item": str(sku_of()), "item_type": "sku_id",
                     "order": k, "pos_id": k}
                    for k in range(rng.randint(1, 4))]
            events.append((t, ev))
            last = page_id
        if rng.random() < 0.15:                       # same-day revisit
            rt = t + rng.randint(1, 60) * MINUTE
            events.append((rt, {
                "common": fx._common(rng, mid, "0"),
                "page": {"page_id": "home", "last_page_id": None,
                         "during_time": 1500}, "ts": rt}))
        if rng.random() < 0.1:                        # next-day revisit
            rt = t + DAY
            events.append((rt, {
                "common": fx._common(rng, mid, "1"),  # lying
                "page": {"page_id": "home", "last_page_id": None,
                         "during_time": 900}, "ts": rt}))
    events.sort(key=lambda e: e[0])

    log_lines: list[str] = []
    n_dirty = n_start = n_page = n_display = 0
    uv: set[tuple[str, str]] = set()
    for t, ev in events:
        if rng.random() < 0.01:
            line = json.dumps(ev)
            log_lines.append(rng.choice([
                line[: len(line) // 2],               # truncated record
                "not-a-json-record{{{",
                line.replace("{", "[", 1)]))          # broken opener
            n_dirty += 1
        log_lines.append(json.dumps(ev))
        if "start" in ev:
            n_start += 1
            continue
        n_page += 1
        n_display += len(ev.get("displays", ()))
        if not ev["page"]["last_page_id"]:
            uv.add((ev["common"]["mid"], _date(t)))

    # ------------------------------------------------------------ CDC
    cdc: list[dict] = []
    dims: dict[str, dict[int, dict]] = defaultdict(dict)

    def dim(table: str, row: dict) -> None:
        dims[table][row["id"]] = row
        cdc.append(fx._cdc(table, "insert", row))

    for tm in range(1, n_tm + 1):
        dim("base_trademark", {"id": tm, "tm_name": f"tm-{tm}"})
    for spu in range(1, n_spu + 1):
        dim("spu_info", {"id": spu, "spu_name": f"spu {spu}"})
    for c3 in range(1, n_c3 + 1):
        dim("base_category3", {"id": c3, "name": f"cat3_{c3}"})
    for pid in range(1, n_prov + 1):
        dim("base_province", {"id": pid, "name": f"province_{pid}",
                              "area_code": f"{110000 + pid}",
                              "iso_code": f"CN-{pid}",
                              "iso_3166_2": f"CN-P{pid}"})
    for sku in range(1, n_skus + 1):
        dim("sku_info", {"id": sku, "sku_name": f"sku {sku}",
                         "price": rng.randint(5, 900),
                         "spu_id": rng.randint(1, n_spu),
                         "category3_id": rng.randint(1, n_c3),
                         "tm_id": rng.randint(1, n_tm)})
    for uid in range(1, n_users + 1):
        dim("user_info", {"id": uid,
                          "birthday": f"19{rng.randint(60, 99)}-0"
                                      f"{rng.randint(1, 9)}-15",
                          "gender": rng.choice("FM")})

    order_wide: list[tuple[int, int, int, Decimal]] = []  # oid, ts, sku, amt
    order_ts: dict[int, int] = {}
    payments: list[tuple[int, int]] = []                  # oid, ts
    detail_id = pay_id = side_id = 0
    for oid in range(1, orders + 1):
        t0 = fx.BASE_TS + rng.randrange(SPAN_MS // SECOND) * SECOND
        order_ts[oid] = t0
        user, prov = user_of(), rng.randint(1, n_prov)
        details = []
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            off = (5 if r < 0.05 else -5 if r < 0.1 else
                   6 if r < 0.13 else 60 if r < 0.15 else
                   rng.randint(0, 3)) * SECOND
            details.append((sku_of(), off, _cents(rng, 1, 400)))
        total = sum(d[2] for d in details)
        cdc.append(fx._cdc("order_info", "insert", {
            "id": oid, "province_id": prov, "order_status": "1001",
            "user_id": user, "total_amount": float(total),
            "activity_reduce_amount": 0, "coupon_reduce_amount": 0,
            "original_total_amount": float(total), "feight_fee": 5,
            "expire_time": _t(t0 + 15 * MINUTE),
            "create_time": _t(t0), "operate_time": _t(t0)}))
        for sku, off, amt in details:
            detail_id += 1
            cdc.append(fx._cdc("order_detail", "insert", {
                "id": detail_id, "order_id": oid, "sku_id": sku,
                "order_price": float(amt), "sku_num": rng.randint(1, 3),
                "sku_name": f"sku {sku}", "create_time": _t(t0 + off),
                "split_total_amount": float(amt),
                "split_activity_amount": 0, "split_coupon_amount": 0}))
            if abs(off) <= 5 * SECOND:
                order_wide.append((oid, t0, sku, amt))
        if rng.random() < 0.8:
            r = rng.random()
            off = (15 * MINUTE if r < 0.1 else 16 * MINUTE if r < 0.2
                   else rng.randint(1, 14 * 60) * SECOND)
            pay_id += 1
            cdc.append(fx._cdc("payment_info", "insert", {
                "id": pay_id, "order_id": oid, "user_id": user,
                "total_amount": float(total), "subject": "order",
                "payment_type": rng.choice(["1101", "1102", "1103"]),
                "create_time": _t(t0 + off),
                "callback_time": _t(t0 + off + 2 * SECOND)}))
            payments.append((oid, t0 + off))
        for table, cols in (("favor_info", {}), ("cart_info",
                                                 {"sku_num": 1})):
            if rng.random() < 0.3:
                side_id += 1
                cdc.append(fx._cdc(table, "insert", {
                    "id": side_id, "user_id": user, "sku_id": sku_of(),
                    "create_time": _t(t0 - rng.randint(1, 600) * SECOND),
                    **cols}))
        if rng.random() < 0.05:
            side_id += 1
            cdc.append(fx._cdc("order_refund_info", "insert", {
                "id": side_id, "order_id": oid, "sku_id": details[0][0],
                "refund_amount": float(details[0][2]),
                "create_time": _t(t0 + 30 * MINUTE)}))
        if rng.random() < 0.1:
            side_id += 1
            cdc.append(fx._cdc("comment_info", "insert", {
                "id": side_id, "order_id": oid, "sku_id": details[0][0],
                "appraise": rng.choice(["1201", "1202"]),
                "create_time": _t(t0 + 40 * MINUTE)}))
        if rng.random() < 0.01:
            # dropped before routing: deletes by filter_deletes, the
            # update by the config (it routes inserts only)
            cdc.append(fx._cdc("order_info", "delete", {"id": oid}))
            cdc.append(fx._cdc("order_info", "update",
                            {"id": oid, "order_status": "1002"}))
        if rng.random() < 0.01:
            cdc.append(fx._cdc("mystery_table", "insert", {"id": oid}))

    pays_by_order = defaultdict(list)
    for oid, pt in payments:
        pays_by_order[oid].append(pt)
    n_payment_wide = sum(
        1 for oid, t0, _, _ in order_wide for pt in pays_by_order[oid]
        if t0 <= pt <= t0 + 15 * MINUTE)
    gmv: Counter = Counter()
    tm_amount: dict[str, Counter] = defaultdict(Counter)
    for _, t0, sku, amt in order_wide:
        gmv[_date(t0)] += amt
        tm_amount[_date(t0)][dims["sku_info"][sku]["tm_id"]] += amt
    top = {}
    for day, per_tm in tm_amount.items():
        ranked = sorted(per_tm.items(), key=lambda kv: (-kv[1], str(kv[0])))
        top[day] = [(str(tm), f"tm-{tm}", str(amt))
                    for tm, amt in ranked[:5]]
    expected = {
        "dirty": n_dirty, "start": n_start, "page": n_page,
        "display": n_display, "unique_visit": len(uv),
        "dims": {t: len(rows) for t, rows in dims.items()},
        "order_wide": len(order_wide), "payment_wide": n_payment_wide,
        "gmv": {d: str(v) for d, v in sorted(gmv.items())},
        "trademark_top": top,
    }
    return Feed(log_lines, cdc, expected)
