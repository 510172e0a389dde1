"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and nothing else that varies, so one seed always yields the same
bytes. Event times are synthetic (``EVENT_EPOCH_MS`` plus the event's due
offset), never the wall clock; only the release schedule is tied to the
wall clock, by the open-loop generator in ``dw_stream``.

The knobs are the traffic dimensions the engine's code paths depend on:
device count and Zipf skew set the keyed-state size, the malformed share
drives the dirty channel, the out-of-order share exercises watermarks,
displays fan out the DWD split, the CDC insert/update mix and the hot-key
set size decide how many dim buckets one micro-batch touches, the
order-detail hit share decides how much of the interval join matches, and
the near-dup share decides how much of the corpus the dedup rejects.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01 23:59:55 UTC: a run of more than 5 s crosses a civil day, so
# the daily UV and the day-keyed dedup state see two dates
EVENT_EPOCH_MS = 1_704_153_595_000

PAGES = ("home", "good_list", "good_detail", "cart", "trade", "payment",
         "search", "mine")


@dataclass(frozen=True)
class StreamParams:
    """dw_stream traffic: rates are per second of the release schedule.

    The reference declares no rates (its mock generators are run by hand),
    so the rates come from measurements with ``perfbench/calibrate.py`` on a
    4-core box. A tick's cost is mostly fixed per tick and per file: at one
    file per stream per second and 400 log events/s, 80 CDC rows/s, 20
    orders/s and 40 docs/s, one more second of traffic added 0.40 s to a
    round of the seven apps (capacity 2.5 times those rates). At 0.6 of
    those rates and one file every 2 s it added 0.22 +- 0.23 s per 2 s
    slot, so these rates are at most a quarter of capacity at one standard
    error: a tick that takes everything since the last one keeps up.
    ``perfbench/README.md`` gives the reasoning for every other value."""

    file_interval_s: float = 2.0
    log_rate: float = 240.0
    devices: int = 3000
    zipf_s: float = 1.1
    malformed_share: float = 0.02
    start_share: float = 0.1
    entry_share: float = 0.3
    out_of_order_share: float = 0.05
    max_disorder_s: float = 0.9
    display_share: float = 0.5
    display_mean: float = 3.0
    cdc_rate: float = 48.0
    cdc_insert_share: float = 0.4
    cdc_hot_keys: int = 40
    order_rate: float = 12.0
    details_per_order: float = 2.5
    detail_hit_share: float = 0.9
    docs_rate: float = 24.0


@dataclass(frozen=True)
class CorpusParams:
    """Document shape; one batch is one release interval of the docs
    stream."""

    batch_docs: int = 24
    words_min: int = 40
    words_max: int = 80
    vocab: int = 5000
    near_dup_share: float = 0.25
    edits_per_dup: int = 1


@dataclass(frozen=True)
class StarParams:
    """serving_queries: the TPC-H-shaped star plus the events table, at
    ``sf`` times the row counts of the reference's sf1."""

    sf: float = 0.02


def params_record() -> dict:
    return {
        "dw_stream": asdict(StreamParams()),
        "dw_stream.docs": asdict(CorpusParams()),
        "serving_queries": asdict(StarParams()),
    }


def zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


# ---------------------------------------------------------------------------
# dw_stream: ODS logs, Debezium CDC, order facts
# ---------------------------------------------------------------------------


@dataclass
class StreamFile:
    """One file of one input stream, due for release at ``due_s`` (offset
    from the start of the measured window). ``event_due_s`` holds the due
    offset of every clean event in it, the base of its freshness."""

    stream: str
    name: str
    due_s: float
    payload: bytes
    event_due_s: np.ndarray


@dataclass
class StreamInputs:
    files: list[StreamFile]
    # truth for the correctness checks and the ratio metrics
    log_lines: int
    malformed: int
    out_of_order: int
    dims: dict[str, dict[str, dict]]  # table -> pk -> last routed after-map
    details: int
    details_hit: int
    docs: dict[str, list[tuple]]  # docs file name -> its (doc_id, text) rows


# source table -> (sink type, sink table, sink columns); cart_info has no
# config row, so the router drops it
CDC_TABLES = {
    "user_info": ("hbase", "dim_user_info", "id,operate_time,name,user_level"),
    "sku_info": ("hbase", "dim_sku_info", "id,operate_time,sku_name,price"),
    "order_info": ("kafka", "dwd_order_info", "id,user_id,total_amount"),
    "cart_info": (None, None, None),
}
CDC_TABLE_SHARES = (0.3, 0.3, 0.3, 0.1)


def table_process_rows() -> list[dict]:
    rows = []
    for src, (sink_type, sink_table, cols) in CDC_TABLES.items():
        if sink_type is None:
            continue
        ops = ("insert",) if sink_type == "kafka" else ("insert", "update")
        for op in ops:
            rows.append({
                "sourceTable": src, "operateType": op, "sinkType": sink_type,
                "sinkTable": sink_table, "sinkColumns": cols, "sinkPk": "id",
                "sinkExtend": None,
            })
    return rows


def _log_events(rng, p: StreamParams, n: int):
    """Yield (due_s, line, clean) for ``n`` log events at the fixed rate."""
    probs = zipf_probs(p.devices, p.zipf_s)
    devs = rng.choice(p.devices, size=n, p=probs)
    last_ts: dict[int, int] = {}
    last_page: dict[int, str] = {}
    seen: set[int] = set()
    n_ooo = 0
    out = []
    for i in range(n):
        due_s = i / p.log_rate
        due_ms = EVENT_EPOCH_MS + int(round(due_s * 1000))
        d = int(devs[i])
        if rng.random() < p.malformed_share:
            body = json.dumps({"common": {"mid": f"mid_{d}"}, "ts": due_ms})
            out.append((due_s, body[: len(body) // 2], False))
            continue
        ts = due_ms
        if rng.random() < p.out_of_order_share:
            cand = due_ms - int(rng.integers(1, int(p.max_disorder_s * 1000)))
            # keep each device's own sequence in time order, so the stream
            # and batch forms of the per-device operators see one order
            if cand > last_ts.get(d, -1):
                ts = cand
                n_ooo += 1
        if ts <= last_ts.get(d, -1):
            ts = last_ts[d] + 1
        last_ts[d] = ts
        first = d not in seen
        seen.add(d)
        common = {
            "mid": f"mid_{d}", "uid": str(int(rng.integers(1, 500))),
            # returning devices sometimes still claim is_new=1: the
            # correction the is_new state exists for
            "is_new": "1" if first or rng.random() < 0.2 else "0",
            "ar": str(int(rng.integers(1, 35))), "ba": "Xiaomi",
            "ch": "web", "md": "Xiaomi 9", "os": "Android 11.0",
            "vc": "v2.1.134",
        }
        ev: dict = {"common": common}
        if rng.random() < p.start_share:
            ev["start"] = {
                "entry": "icon", "loading_time": int(rng.integers(1000, 9000)),
                "open_ad_id": int(rng.integers(1, 20)),
                "open_ad_ms": int(rng.integers(1000, 9000)),
                "open_ad_skip_ms": 0,
            }
            last_page.pop(d, None)
        else:
            page_id = PAGES[int(rng.integers(0, len(PAGES)))]
            entry = d not in last_page or rng.random() < p.entry_share
            ev["page"] = {
                "page_id": page_id,
                "last_page_id": None if entry else last_page[d],
                "item": str(int(rng.integers(1, 1000))),
                "item_type": "sku_id",
                "during_time": int(rng.integers(1000, 20000)),
            }
            last_page[d] = page_id
            if rng.random() < p.display_share:
                k = 1 + int(rng.poisson(p.display_mean - 1))
                ev["displays"] = [
                    {"display_type": "promotion", "item": str(int(x)),
                     "item_type": "sku_id", "order": j + 1, "pos_id": j % 5}
                    for j, x in enumerate(rng.integers(1, 1000, size=k))
                ]
        ev["ts"] = ts
        out.append((due_s, json.dumps(ev, separators=(",", ":")), True))
    return out, n_ooo


def _cdc_rows(rng, p: StreamParams, n: int, dims: dict):
    """Yield (due_s, line) Debezium records; ``dims`` collects the last
    routed after-map per dim pk (the expected dim table contents)."""
    tables = list(CDC_TABLES)
    next_pk = {t: 1 for t in tables}
    live: dict[str, list[int]] = {t: [] for t in tables}
    state: dict[tuple[str, int], dict] = {}
    out = []
    for i in range(n):
        due_s = i / p.cdc_rate
        # strictly increasing, fixed width: the newest version of a pk has
        # the lexicographically largest payload after its id
        op_us = EVENT_EPOCH_MS * 1000 + int(due_s * 1e6) + i
        op_time = np.datetime64(op_us, "us").astype(str).replace("T", " ")
        t = tables[int(rng.choice(len(tables), p=CDC_TABLE_SHARES))]
        update = (
            t != "order_info" and live[t]
            and rng.random() >= p.cdc_insert_share
        )
        if update:
            hot = live[t][-p.cdc_hot_keys:]
            pk = hot[int(rng.integers(0, len(hot)))]
            op = "u"
        else:
            pk = next_pk[t]
            next_pk[t] += 1
            live[t].append(pk)
            op = "c"
        after = {"id": str(pk), "operate_time": op_time}
        if t == "user_info":
            after |= {"name": f"user{int(rng.integers(0, 10**6))}",
                      "user_level": str(int(rng.integers(1, 6))),
                      "birthday": "1990-01-01"}
        elif t == "sku_info":
            after |= {"sku_name": f"sku{int(rng.integers(0, 10**6))}",
                      "price": f"{rng.integers(100, 99999) / 100:.2f}",
                      "tm_id": str(int(rng.integers(1, 20)))}
        elif t == "order_info":
            after |= {"user_id": str(int(rng.integers(1, 500))),
                      "total_amount": f"{rng.integers(100, 99999) / 100:.2f}",
                      "order_status": "1001"}
        else:
            after |= {"sku_id": str(int(rng.integers(1, 1000))),
                      "sku_num": str(int(rng.integers(1, 5)))}
        before = state.get((t, pk)) if op == "u" else None
        state[(t, pk)] = after
        rec = {"before": before, "after": after,
               "source": {"db": "gmall", "table": t}, "op": op,
               "ts_ms": EVENT_EPOCH_MS + int(due_s * 1000)}
        sink_type, sink_table, cols = CDC_TABLES[t]
        if sink_type == "hbase":
            keep = cols.split(",")
            dims.setdefault(sink_table, {})[str(pk)] = {
                k: after[k] for k in keep if k in after
            }
        out.append((due_s, json.dumps(rec, separators=(",", ":"))))
    return out


def _orders(rng, p: StreamParams, seconds: float):
    """(info rows, detail rows, hits); every row carries its due offset."""
    n = int(seconds * p.order_rate)
    info, detail = [], []
    hits = 0
    did = 1
    for i in range(n):
        due_s = i / p.order_rate
        oid = 1000 + i
        info.append((due_s, oid, int(rng.integers(1, 500)),
                     int(rng.integers(1, 35)),
                     float(rng.integers(100, 99999) / 100)))
        for _ in range(int(rng.poisson(p.details_per_order))):
            hit = rng.random() < p.detail_hit_share
            # a miss lands outside the +-5 s interval-join window
            lag = rng.uniform(0, 3) if hit else rng.uniform(6, 9)
            d_due = due_s + lag
            if d_due >= seconds:
                continue
            hits += hit
            detail.append((d_due, did, oid, int(rng.integers(1, 1000)),
                           int(rng.integers(1, 5))))
            did += 1
    detail.sort()
    return info, detail, hits


def order_tables(info, detail) -> tuple[pa.Table, pa.Table]:
    def ts(due):
        return pa.array(
            [EVENT_EPOCH_MS * 1000 + int(round(d * 1e6)) for d in due],
            pa.timestamp("us"),
        )

    it = pa.table({
        "id": pa.array([r[1] for r in info], pa.int64()),
        "user_id": pa.array([r[2] for r in info], pa.int64()),
        "province_id": pa.array([r[3] for r in info], pa.int64()),
        "total_amount": pa.array([r[4] for r in info], pa.float64()),
        "create_ts": ts([r[0] for r in info]),
    })
    dt = pa.table({
        "detail_id": pa.array([r[1] for r in detail], pa.int64()),
        "order_id": pa.array([r[2] for r in detail], pa.int64()),
        "sku_id": pa.array([r[3] for r in detail], pa.int64()),
        "sku_num": pa.array([r[4] for r in detail], pa.int64()),
        "create_ts": ts([r[0] for r in detail]),
    })
    return it, dt


def _parquet_bytes(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def stream_inputs(seed: int, seconds: float,
                  p: StreamParams = StreamParams()) -> StreamInputs:
    """All dw_stream files for a run of ``seconds`` of release schedule."""
    rng = np.random.default_rng([seed, 1])
    n_files = int(np.ceil(seconds / p.file_interval_s))
    span = n_files * p.file_interval_s
    logs, n_ooo = _log_events(rng, p, int(span * p.log_rate))
    dims: dict = {}
    cdc = _cdc_rows(rng, p, int(span * p.cdc_rate), dims)
    info, detail, hits = _orders(rng, p, span)
    cp = CorpusParams(batch_docs=int(p.docs_rate * p.file_interval_s))
    doc_files = doc_batches(seed, n_files, cp)

    def slot(due_s):
        return min(int(due_s / p.file_interval_s), n_files - 1)

    files: list[StreamFile] = []
    for k in range(n_files):
        release = (k + 1) * p.file_interval_s
        lk = [x for x in logs if slot(x[0]) == k]
        files.append(StreamFile(
            "log", f"log-{k:05d}.json", release,
            ("\n".join(x[1] for x in lk) + "\n").encode(),
            np.array([x[0] for x in lk if x[2]]),
        ))
        ck = [x for x in cdc if slot(x[0]) == k]
        files.append(StreamFile(
            "cdc", f"cdc-{k:05d}.json", release,
            ("\n".join(x[1] for x in ck) + "\n").encode(),
            np.array([x[0] for x in ck]),
        ))
        ik = [r for r in info if slot(r[0]) == k]
        dk = [r for r in detail if slot(r[0]) == k]
        it, dt = order_tables(ik, dk)
        files.append(StreamFile("order_info", f"oi-{k:05d}.parquet", release,
                                _parquet_bytes(it),
                                np.array([r[0] for r in ik])))
        files.append(StreamFile("order_detail", f"od-{k:05d}.parquet",
                                release, _parquet_bytes(dt),
                                np.array([r[0] for r in dk])))
        n_docs = len(doc_files[k])
        files.append(StreamFile(
            "docs", f"doc-{k:05d}.parquet", release,
            _parquet_bytes(doc_table(doc_files[k])),
            k * p.file_interval_s
            + (np.arange(n_docs) + 0.5) * p.file_interval_s / n_docs))
    return StreamInputs(
        files=files, log_lines=len(logs),
        malformed=sum(1 for x in logs if not x[2]), out_of_order=n_ooo,
        dims=dims, details=len(detail), details_hit=hits,
        docs={f"doc-{k:05d}.parquet": b for k, b in enumerate(doc_files)},
    )


def watermark_mover_line(seconds: float) -> str:
    """A clean non-entry page event one minute past the last real event:
    it advances every event-time watermark past the bounce timers, so the
    stream emits the trailing timeout bounces the batch form also emits."""
    ev = {"common": {"mid": "mid_watermark", "is_new": "0"},
          "page": {"page_id": "home", "last_page_id": "home"},
          "ts": EVENT_EPOCH_MS + int((seconds + 60) * 1000)}
    return json.dumps(ev, separators=(",", ":"))


# ---------------------------------------------------------------------------
# the docs stream: document micro-batches with a seeded near-dup share
# ---------------------------------------------------------------------------


def doc_batches(seed: int, n_batches: int,
                p: CorpusParams = CorpusParams()) -> list[list[tuple]]:
    """``n_batches`` lists of (doc_id, text). A near-dup copies an earlier
    doc (any earlier batch, or a smaller id in its own batch) and replaces
    ``edits_per_dup`` words, which keeps its 3-shingle Jaccard near 0.9."""
    rng = np.random.default_rng([seed, 2])
    salt = int(rng.integers(0, 36**3))
    vocab = [f"{np.base_repr(salt, 36).lower()}{np.base_repr(i, 36).lower()}"
             for i in range(p.vocab)]
    words_of: list[list[str]] = []
    out = []
    doc_id = 1
    for _ in range(n_batches):
        batch = []
        for _ in range(p.batch_docs):
            if words_of and rng.random() < p.near_dup_share:
                words = list(words_of[int(rng.integers(0, len(words_of)))])
                for _ in range(p.edits_per_dup):
                    words[int(rng.integers(0, len(words)))] = vocab[
                        int(rng.integers(0, p.vocab))]
            else:
                n = int(rng.integers(p.words_min, p.words_max + 1))
                words = [vocab[int(j)] for j in rng.integers(0, p.vocab, n)]
            words_of.append(words)
            batch.append((doc_id, " ".join(words)))
            doc_id += 1
        out.append(batch)
    return out


def doc_table(batch: list[tuple]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([d for d, _ in batch], pa.int64()),
        "text": pa.array([t for _, t in batch], pa.string()),
    })


# ---------------------------------------------------------------------------
# serving_queries: the star schema and events table the query registry reads
# ---------------------------------------------------------------------------


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    b = np.datetime64(base, "us").astype(np.int64)
    return pa.array(b + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def star_tables(seed: int, out_dir: str,
                p: StarParams = StarParams()) -> dict[str, int]:
    """Write ``<table>.parquet`` for every table the serving mix reads;
    returns the row counts."""
    rng = np.random.default_rng([seed, 3])
    sf = p.sf
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    day_us = 86_400 * 10**6
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"])[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.array(["large ", "hot ", "blue ", "small "])[
                    rng.integers(0, 4, n_part)],
                np.array(["ring", "bolt", "nut", "gear"])[
                    rng.integers(0, 4, n_part)]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "MEDIUM",
                                "PROMO", "STANDARD"])[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_li) * day_us),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(["view", "click", "purchase", "signup",
                                    "error"])[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 560, n_ev),
            "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
