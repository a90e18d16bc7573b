"""Seeded feed generator for the benchmark workloads.

Stands apart from the engine: it imports nothing from
``flink_precisely_demo_spark`` and writes plain JSON-lines files, so
the program under test only ever sees generated inputs. The same seed
and size give byte-identical files. Output is cached under
``<cache_root>/<kind>-<seed>-<size hash>/`` and reused (the newest
``CACHE_KEEP`` feeds of each kind are kept); a ``DONE``
marker is written last, so an interrupted build is redone.

Feeds:

- ``tail_feed``: Precisely CDC order envelopes (FIXTURES.md section A)
  for ``cdc_tail`` -- a backlog of files plus a numbered series of
  live files, each live file covering one ``tick`` of the compressed
  event clock. Event times are written as ``parseTs`` strings with 1,
  3, 6 or 9 fraction digits. ``ShipToAddressId`` is Zipf-skewed. A
  share of rows is out of order by less than the 10-minute watermark,
  a share lands exactly on a window boundary, and a share of live rows
  is far behind the watermark (older than the backlog's watermark), so
  Spark drops them however the files are split into batches. Spark
  drops late rows against the *previous* batch's watermark, so the
  first live files, which may share a batch with the one that first
  applies the backlog's watermark, carry no far-late rows. A small
  share of orders names an address the dimension lacks.
- ``stateful_feed``: projected rows (the sql/{states,address,orders}
  shapes) for ``cdc_stateful``. States are renamed and addresses move,
  so dimension keys carry several versions; a share of addresses first
  appears after some of its orders, which exercises the buffer-and-
  flush path of the stateful enrichment join.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass

#: event clock origin (UTC); every feed starts here
EPOCH0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
WINDOW_S = 600          # the pipeline's tumbling window
WATERMARK_S = 600       # the pipeline's watermark delay
US = 1_000_000


@dataclass(frozen=True)
class TailSize:
    n_states: int = 50
    n_addresses: int = 5_000
    backlog_orders: int = 100_000
    backlog_files: int = 20
    live_files: int = 150
    orders_per_file: int = 150
    tick_s: float = 0.1             # wall seconds between live files
    compression: int = 6_000        # event seconds per wall second: one
                                    # 10-minute window closes per tick
    disorder_share: float = 0.2     # rows moved back by < disorder_max_s
    disorder_max_s: int = 500       # below the 600 s watermark delay
    boundary_share: float = 0.01    # rows exactly on a window start
    far_late_share: float = 0.01    # live rows behind the backlog watermark
    far_late_after_s: float = 2.0   # ...only in files released this late
    orphan_share: float = 0.005     # orders whose address is unknown
    zipf_s: float = 1.1


@dataclass(frozen=True)
class StatefulSize:
    n_states: int = 50
    n_addresses: int = 900
    n_orders: int = 6_000
    files_per_source: int = 4
    span_s: int = 2 * 86_400        # event-time span of the replay
    state_rename_share: float = 0.3
    address_move_max: int = 2       # extra versions per address: 0..max
    late_address_share: float = 0.1  # first version arrives mid-span
    orphan_share: float = 0.005
    zipf_s: float = 1.1


@dataclass(frozen=True)
class TailFeed:
    root: str
    states: str            # JSON lines: StateProvinceID, CountryRegionCode, Name
    address: str           # JSON lines: AddressID, StateProvinceID
    backlog: list[str]     # envelope files present before the query starts
    live: list[str]        # envelope files released one per tick, in order
    size: TailSize


@dataclass(frozen=True)
class StatefulFeed:
    root: str
    states_dir: str
    address_dir: str
    orders_dir: str
    envelopes_dir: str     # the same orders as CDC envelopes (for probes)
    n_rows: int            # orders + address versions + state versions
    size: StatefulSize


class _Zipf:
    """Zipf(s) over ``n`` keys, with the rank -> key map shuffled."""

    def __init__(self, rng: random.Random, keys: list[int], s: float):
        self.keys = list(keys)
        rng.shuffle(self.keys)
        acc, self.cdf = 0.0, []
        for rank in range(1, len(keys) + 1):
            acc += rank ** -s
            self.cdf.append(acc)

    def draw(self, rng: random.Random) -> int:
        i = bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])
        return self.keys[min(i, len(self.keys) - 1)]


#: feeds kept per kind in the cache; the oldest beyond this are deleted
CACHE_KEEP = 6


def _cached(cache_root: str, kind: str, seed: int, size) -> tuple[str, bool]:
    blob = json.dumps(asdict(size), sort_keys=True).encode()
    tag = hashlib.sha256(blob).hexdigest()[:12]
    root = os.path.join(cache_root, f"{kind}-{seed}-{tag}")
    if os.path.exists(os.path.join(root, "DONE")):
        os.utime(root)
        return root, True
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    others = sorted((p for p in os.listdir(cache_root)
                     if p.startswith(f"{kind}-") and p != os.path.basename(root)),
                    key=lambda p: os.path.getmtime(os.path.join(cache_root, p)))
    for old in others[:max(0, len(others) - (CACHE_KEEP - 1))]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return root, False


def _write_lines(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def parse_ts_string(us: int, rng: random.Random) -> str:
    """Render epoch micros as ``yyyyMMddHHmmss`` + 1/3/6/9 fraction
    digits. Fewer than 6 digits truncate the instant; 9 digits append
    sub-microsecond noise (the parser ignores digits past 6)."""
    t = EPOCH0 + dt.timedelta(microseconds=us)
    frac = f"{t.microsecond:06d}"
    digits = rng.choice((1, 3, 6, 9))
    frac = frac[:digits] if digits <= 6 else frac + f"{rng.randrange(1000):03d}"
    return t.strftime("%Y%m%d%H%M%S") + frac


def order_envelope(order_id: int, address_id: int, ts: str,
                   cents: int) -> dict:
    sub = cents / 100
    tax = round(cents * 0.08) / 100
    freight = 5.0
    payload = {
        "SalesOrderId": order_id, "OrderDate": ts, "DueDate": ts,
        "ShipDate": ts, "Status": 5, "ShipToAddressId": address_id,
        "SubTotal": sub, "TaxAmt": tax, "Freight": freight,
        "TotalDue": round(sub + tax + freight, 2),
    }
    return {
        "sv_manip_type": "I", "sv_trans_id": order_id,
        "sv_trans_row_seq": 1, "sv_sending_table": "SALES.ORDERS",
        "sv_trans_timestamp": ts, "sv_trans_username": "cdcuser",
        "sv_program_name": "bench", "sv_job_name": "job",
        "sv_job_user": "juser", "sv_job_number": "1",
        "sv_op_timestamp": ts, "sv_file_member": "m",
        "sv_receiver_library": "lib", "sv_receiver_name": "recv",
        "sv_journal_seqno": str(order_id), "after_image": payload,
    }


def _states(rng: random.Random, n: int) -> list[tuple[int, str, str]]:
    countries = ["US", "CA", "MX", "DE", "FR", "GB", "AU", "JP"]
    return [(sid, countries[rng.randrange(len(countries))], f"State-{sid}")
            for sid in range(1, n + 1)]


def tail_feed(cache_root: str, seed: int, size: TailSize) -> TailFeed:
    root, done = _cached(cache_root, "tail", seed, size)
    backlog_dir = os.path.join(root, "backlog")
    live_dir = os.path.join(root, "live")
    feed = TailFeed(
        root=root,
        states=os.path.join(root, "states.json"),
        address=os.path.join(root, "address.json"),
        backlog=[os.path.join(backlog_dir, f"b{i:05d}.json")
                 for i in range(size.backlog_files)],
        live=[os.path.join(live_dir, f"l{i:05d}.json")
              for i in range(size.live_files)],
        size=size)
    if done:
        return feed
    os.makedirs(backlog_dir)
    os.makedirs(live_dir)
    rng = random.Random(seed)
    states = _states(rng, size.n_states)
    _write_lines(feed.states, ({"StateProvinceID": s, "CountryRegionCode": c,
                                "Name": name} for s, c, name in states))
    addresses = list(range(1, size.n_addresses + 1))
    _write_lines(feed.address, ({"AddressID": a,
                                 "StateProvinceID": rng.randrange(1, size.n_states + 1)}
                                for a in addresses))
    zipf = _Zipf(rng, addresses, size.zipf_s)
    rate = size.orders_per_file / size.tick_s            # orders per wall s
    backlog_span_us = int(size.backlog_orders / rate * size.compression * US)
    file_span_us = int(size.tick_s * size.compression * US)
    next_id = 1

    def rows(n: int, lo_us: int, hi_us: int, far_late: bool) -> list[str]:
        nonlocal next_id
        out = []
        for _ in range(n):
            us = rng.randrange(lo_us, hi_us)
            u = rng.random()
            if far_late and u < size.far_late_share:
                # older than the backlog's max minus the watermark delay:
                # dropped whatever batch the file lands in
                us = rng.randrange(0, backlog_span_us // 2)
            elif u < size.far_late_share + size.disorder_share:
                us = max(0, us - rng.randrange(size.disorder_max_s * US))
            elif u < size.far_late_share + size.disorder_share + size.boundary_share:
                edge = -(-lo_us // (WINDOW_S * US)) * WINDOW_S * US
                us = edge if edge < hi_us else us
            if rng.random() < size.orphan_share:
                address = size.n_addresses + 1 + rng.randrange(1000)
            else:
                address = zipf.draw(rng)
            env = order_envelope(next_id, address, parse_ts_string(us, rng),
                                 rng.randrange(500, 500_000))
            next_id += 1
            out.append(env)
        return out

    per_file = size.backlog_orders // size.backlog_files
    for i, path in enumerate(feed.backlog):
        lo = i * backlog_span_us // size.backlog_files
        hi = (i + 1) * backlog_span_us // size.backlog_files
        _write_lines(path, rows(per_file, lo, hi, far_late=False))
    for i, path in enumerate(feed.live):
        lo = backlog_span_us + i * file_span_us
        _write_lines(path, rows(size.orders_per_file, lo, lo + file_span_us,
                                far_late=i * size.tick_s >= size.far_late_after_s))
    open(os.path.join(root, "DONE"), "w").close()
    return feed


def _iso(us: int) -> str:
    return (EPOCH0 + dt.timedelta(microseconds=us)).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")


def _asof_s(us: int) -> float:
    # the engine casts timestamps to double as micros / 1e6; dimension
    # AsOf columns use the same arithmetic so comparisons line up
    return (EPOCH0.timestamp() * US + us) / US


def _tagged(us: int, residue: int) -> int:
    """Snap micros to ``residue`` mod 4, so versions of different
    sources never share an instant (orders 0, addresses 1, states 2)."""
    return us - us % 4 + residue


def stateful_feed(cache_root: str, seed: int, size: StatefulSize) -> StatefulFeed:
    root, done = _cached(cache_root, "stateful", seed, size)
    dirs = {k: os.path.join(root, k)
            for k in ("states", "address", "orders", "envelopes")}
    rng = random.Random(seed)
    span_us = size.span_s * US
    states, addresses, orders, envelopes = [], [], [], []

    for sid, country, name in _states(rng, size.n_states):
        t = _tagged(-86_400 * US + rng.randrange(3600 * US), 2)
        if rng.random() < 0.1:                       # a state that shows up late
            t = _tagged(rng.randrange(span_us // 4), 2)
        states.append({"StateProvinceID": sid, "CountryRegionCode": country,
                       "StateName": name, "StatesAsOf": _asof_s(t)})
        if rng.random() < size.state_rename_share:
            t2 = _tagged(rng.randrange(span_us), 2)
            states.append({"StateProvinceID": sid, "CountryRegionCode": country,
                           "StateName": f"{name}-renamed",
                           "StatesAsOf": _asof_s(max(t, t2) + 4)})
    for aid in range(1, size.n_addresses + 1):
        if rng.random() < size.late_address_share:
            t = rng.randrange(span_us // 2, span_us)
        else:
            t = rng.randrange(-3600 * US, span_us // 10)
        stamps = sorted({_tagged(t, 1)} | {
            _tagged(rng.randrange(t, span_us + 1), 1)
            for _ in range(rng.randrange(size.address_move_max + 1))})
        for v, ts in enumerate(stamps):
            addresses.append({"AddressID": aid, "City": f"City-{aid}-{v}",
                              "StateProvinceID": rng.randrange(1, size.n_states + 1),
                              "AddressAsOf": _asof_s(ts)})
    zipf = _Zipf(rng, list(range(1, size.n_addresses + 1)), size.zipf_s)
    for oid in range(1, size.n_orders + 1):
        if rng.random() < size.orphan_share:
            address = size.n_addresses + 1 + rng.randrange(1000)
        else:
            address = zipf.draw(rng)
        cents, us = rng.randrange(500, 500_000), _tagged(rng.randrange(span_us), 0)
        orders.append({"SalesOrderId": oid, "AddressId": address,
                       "TotalDue": cents / 100, "OrderAsOf": _iso(us)})
        envelopes.append(order_envelope(oid, address, parse_ts_string(us, rng), cents))
    feed = StatefulFeed(root, dirs["states"], dirs["address"], dirs["orders"],
                        dirs["envelopes"], len(states) + len(addresses) + len(orders),
                        size)
    if done:
        return feed
    for name, rows in (("states", states), ("address", addresses),
                       ("orders", orders), ("envelopes", envelopes)):
        rng.shuffle(rows)
        os.makedirs(dirs[name])
        k = size.files_per_source
        for i in range(k):
            _write_lines(os.path.join(dirs[name], f"part-{i:03d}.json"),
                         rows[i::k])
    open(os.path.join(root, "DONE"), "w").close()
    return feed
