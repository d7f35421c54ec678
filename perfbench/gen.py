"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, a different seed different ones. Files carry
increasing modification times (relative to the moment of generation) so a
file-stream source discovers them in generation order.

  backfill(seed, out)        agents + IDE feed backlog and a report dir
  tables(seed, out)          sf0.01-shaped analytics tables for the queries
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])

IDE_SCHEMA = pa.schema([
    ("thread_id", pa.string()), ("prompt_id", pa.string()), ("session_id", pa.string()),
    ("checkpoint_ts", pa.string()), ("checkpoint_id", pa.string()),
    ("blob", pa.binary()), ("task_path", pa.string())])

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line data table agg value key stream window a spark part group "
         "big sort query fast the").split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
AGENT_TASKS = ["plan", "code", "review", "test", "chat"]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path, schema, mtime):
    # plain, uncompressed and without statistics: compression and min/max
    # stats of multi-KB payloads depend on how a seed's sessions fall into
    # files, and the input bytes the storage ratio divides by should not
    pq.write_table(pa.Table.from_pylist(table, schema=schema), path, compression="none",
                   use_dictionary=False, write_statistics=False)
    os.utime(path, (mtime, mtime))


def _mtime_base():
    # recent enough that no file-source age limit ever ignores a file
    return int(time.time()) - 3600


def _sentence(rng, lo, hi):
    return " ".join(rng.choice(WORDS, size=int(rng.integers(lo, hi))))


def _split(rows, n_files):
    bounds = np.linspace(0, len(rows), n_files + 1).astype(int)
    return [rows[bounds[i]:bounds[i + 1]] for i in range(n_files)]


# --------------------------------------------------------------------------
# cdc_backfill
# --------------------------------------------------------------------------

# Pipeline.run takes 64 files per trigger: the agents feed drains in three
# micro-batches and the IDE feed in two, so later batches merge into state
# that earlier ones left and rewrite sink buckets that already hold rows
BACKFILL = dict(sessions=160, ide_sessions=48, agent_files=192, ide_files=128, start_window_s=3600,
                report_sessions=40, bad_per_mille=5, max_messages=20, max_length=160)


def backfill(seed, out):
    """Agents feed (growing conversation-JSON checkpoints, heavy-tailed
    session lengths, sessions starting within one hour so they run side by
    side), IDE feed (growing editor-state blobs), per-session report files,
    and planted malformed rows on both feeds.
    Returns a dict of counts the benchmark checks against."""
    p = BACKFILL
    rng = _rng(seed, 1)
    agents, ide = [], []
    event_id = 0
    # Pareto session lengths at fixed quantiles, so every seed drains the
    # same amount of work: most sessions are short, a few carry most events
    q = (np.arange(p["sessions"]) + 0.5) / p["sessions"]
    lengths = rng.permutation(np.minimum((3 + 8 * ((1 - q) ** (-1 / 1.2) - 1)).astype(int), p["max_length"]))
    with_ide = set(rng.choice(p["sessions"], p["ide_sessions"], replace=False).tolist())
    for s in range(p["sessions"]):
        uid = 1000 + s
        t = EPOCH_2024_US + int(rng.integers(0, p["start_window_s"] * 1_000_000))
        history = {task: [] for task in AGENT_TASKS}
        for step in range(int(lengths[s])):
            t += int(rng.exponential(20e6)) + 1
            task = "signup" if step == 0 else AGENT_TASKS[int(rng.integers(0, len(AGENT_TASKS)))]
            if task == "signup":
                props = json.dumps({"thread": uid, "task": "__start__", "prompt": _sentence(rng, 4, 12)})
            else:
                msgs = history[task]
                msgs.append({"role": "user" if len(msgs) % 2 == 0 else "assistant",
                             "content": _sentence(rng, 8, 24)})
                del msgs[:-p["max_messages"]]
                props = json.dumps({"thread": uid, "task": task, "step": step, "messages": msgs})
            agents.append(dict(event_id=event_id, ts=t, user_id=uid, event_type=task,
                               value=float(step), props=props))
            event_id += 1
        if s in with_ide:
            files = [f"src/mod{k}.py" for k in range(int(rng.integers(1, 4)))]
            body = {f: [] for f in files}
            for step in range(max(2, int(lengths[s]) // 3)):
                t_ide = t - int(rng.integers(0, 3600e6))
                f = files[int(rng.integers(0, len(files)))]
                body[f].append(f"line {len(body[f])}: " + _sentence(rng, 4, 10))
                del body[f][:-60]
                ide.append(dict(thread_id=str(uid), prompt_id=f"p{step}", session_id=f"s{uid}",
                                checkpoint_ts=t_ide, checkpoint_id=str(10_000_000 + event_id),
                                blob=json.dumps({"file": f, "lines": body[f]}).encode(),
                                task_path=f"edit/{f}"))
                event_id += 1
    agents.sort(key=lambda r: (r["ts"], r["event_id"]))
    ide.sort(key=lambda r: (r["checkpoint_ts"], r["checkpoint_id"]))
    for r in ide:
        r["checkpoint_ts"] = _iso(r["checkpoint_ts"])
    bad_agents = _plant_bad_agents(rng, agents, p["bad_per_mille"], event_id)
    bad_ide = _plant_bad_ide(rng, ide, p["bad_per_mille"])
    base = _mtime_base()
    os.makedirs(f"{out}/feed_cdc")
    os.makedirs(f"{out}/feed_ide")
    for i, chunk in enumerate(_split(agents, p["agent_files"])):
        _write(chunk, f"{out}/feed_cdc/part-{i:05d}.parquet", EVENTS_SCHEMA, base + i)
    for i, chunk in enumerate(_split(ide, p["ide_files"])):
        _write(chunk, f"{out}/feed_ide/part-{i:05d}.parquet", IDE_SCHEMA, base + i)
    n_reports = 0
    for s in sorted(rng.choice(p["sessions"], p["report_sessions"], replace=False).tolist()):
        d = f"{out}/reports/{1000 + s}"
        os.makedirs(d)
        for k in range(2):
            with open(f"{d}/report-{k}.txt", "w") as fh:
                fh.write("\n".join(_sentence(rng, 6, 14) for _ in range(int(rng.integers(3, 30)))))
            n_reports += 1
    return dict(agent_rows=len(agents), ide_rows=len(ide),
                malformed=bad_agents + bad_ide, report_files=n_reports,
                sessions=p["sessions"])


def _iso(us):
    return np.datetime64(us, "us").astype(str).replace("T", " ")


def _to_ts(rows):
    for r in rows:
        if r["ts"] is not None:
            r["ts"] = np.datetime64(r["ts"], "us").item()


def _plant_bad_agents(rng, rows, per_mille, next_id):
    """Replace a fixed share of rows with malformed copies; each breaks one
    wire rule (null user_id / event_type / props)."""
    n = max(1, len(rows) * per_mille // 1000)
    idx = rng.choice(len(rows), size=n, replace=False)
    for j, i in enumerate(sorted(idx)):
        r = dict(rows[i + j], event_id=next_id + j)
        r[("user_id", "event_type", "props")[j % 3]] = None
        rows.insert(int(i) + j + 1, r)
    _to_ts(rows)
    return n


def _plant_bad_ide(rng, rows, per_mille):
    n = max(1, len(rows) * per_mille // 1000) if rows else 0
    idx = rng.choice(len(rows), size=n, replace=False) if n else []
    for j, i in enumerate(sorted(idx)):
        r = dict(rows[i + j], checkpoint_id=f"bad{j}")
        if j % 2:
            r["blob"] = None
        else:
            r["checkpoint_ts"] = "not-a-timestamp"
        rows.insert(int(i) + j + 1, r)
    return n


# --------------------------------------------------------------------------
# query_suite
# --------------------------------------------------------------------------

TABLES = dict(lineitem=60_000, orders=15_000, customer=1500, supplier=100, part=2000,
              events=10_000, users=150, documents=500, embeddings=500, dim=64)


def tables(seed, out):
    """sf0.01-shaped analytics tables, with the column types and value
    domains of the engine's reference test data."""
    p = TABLES
    rng = _rng(seed, 3)
    os.makedirs(out)

    def save(name, cols, schema=None):
        pq.write_table(pa.table(cols, schema=schema), f"{out}/{name}.parquet")

    def days(lo, hi, n):
        return (np.datetime64(lo) + rng.integers(0, (np.datetime64(hi) - np.datetime64(lo)).astype(int), n)
                ).astype("datetime64[us]")

    save("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    save("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = p["customer"]
    save("customer", {"c_custkey": np.arange(n, dtype=np.int64),
                      "c_name": [f"Customer#{i:09d}" for i in range(n)],
                      "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                      "c_acctbal": np.round(rng.random(n) * 10000 - 1000, 2),
                      "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                                  "FURNITURE"], n).tolist()})
    n = p["supplier"]
    save("supplier", {"s_suppkey": np.arange(n, dtype=np.int64),
                      "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                      "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
                      "s_acctbal": np.round(rng.random(n) * 10000, 2)})
    n = p["part"]
    adj = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    save("part", {"p_partkey": np.arange(n, dtype=np.int64),
                  "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
                  "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
                  "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n).tolist(),
                  "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
                  "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)})
    n = p["orders"]
    save("orders", {"o_orderkey": np.arange(n, dtype=np.int64),
                    "o_custkey": rng.integers(0, p["customer"], n),
                    "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
                    "o_totalprice": np.round(rng.random(n) * 500000 + 1000, 2),
                    "o_orderdate": days("1995-01-01", "2001-08-02", n),
                    "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                   "5-LOW"], n).tolist()})
    n = p["lineitem"]
    okeys = rng.integers(0, p["orders"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    save("lineitem", {"l_orderkey": okeys, "l_partkey": rng.integers(0, p["part"], n),
                      "l_suppkey": rng.integers(0, p["supplier"], n),
                      "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
                      "l_quantity": qty,
                      "l_extendedprice": np.round(qty * (900 + rng.random(n) * 1200), 2),
                      "l_discount": rng.integers(0, 11, n) / 100.0,
                      "l_tax": rng.integers(0, 9, n) / 100.0,
                      "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
                      "l_linestatus": rng.choice(["O", "F"], n).tolist(),
                      "l_shipdate": days("1995-01-03", "2001-11-05", n)})
    n = p["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n)).astype("datetime64[us]")
    save("events", {"event_id": np.arange(n, dtype=np.int64), "ts": ts,
                    "user_id": rng.integers(0, p["users"], n),
                    "event_type": rng.choice(EVENT_TYPES, n).tolist(),
                    "value": np.round(rng.random(n) * 490 + 0.01, 2),
                    "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)]})
    n = p["documents"]
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(10, 95)))))
    save("documents", {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
                       "lang": rng.choice(["en", "en", "en", "es", "zh", "de", "fr"], n).tolist(),
                       "source": [f"src{i % 20}" for i in range(n)],
                       "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n, dim = p["embeddings"], p["dim"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {"vec_id": np.arange(n, dtype=np.int64),
                        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
                        "label": pa.array(labels, pa.int32())})
    return {k: v for k, v in p.items()}
