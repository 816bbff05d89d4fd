"""Seeded input generators. The same seed gives the same files, byte for
byte. Each generator writes a `manifest.json` describing the input's
shape. The log dump also writes the `expected.json` the checker compares
the indexer's sink with (the bots' expected results come from
botref.py). The program itself only ever sees the generated files.

  log_dump       JSONL log dump of token Transfer/Approval logs, with an
                 optional signed `txs` table (backfill_txfrom)
  swaps          9 pool swap CSVs plus one decoy file (bots)
  kernel_inputs  seeded signatures and Keccak inputs (traced runs)
  tables         the star-schema + events/documents/embeddings parquet
                 tables FeeBot and the query sample read (fixed seed 42)
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import evmcrypto

TRANSFER = "0x" + evmcrypto.keccak256(b"Transfer(address,address,uint256)").hex()
APPROVAL = "0x" + evmcrypto.keccak256(b"Approval(address,address,uint256)").hex()
OTHER_TOPIC = "0x" + evmcrypto.keccak256(b"Sync(uint112,uint112)").hex()

TOKEN_ABI = [
    {"type": "event", "name": "Transfer", "inputs": [
        {"indexed": True, "name": "from", "type": "address"},
        {"indexed": True, "name": "to", "type": "address"},
        {"indexed": False, "name": "value", "type": "uint256"}]},
    {"type": "event", "name": "Approval", "inputs": [
        {"indexed": True, "name": "owner", "type": "address"},
        {"indexed": True, "name": "spender", "type": "address"},
        {"indexed": False, "name": "value", "type": "uint256"}]},
]
INDEXED = {"Transfer": ("from", "to"), "Approval": ("owner", "spender")}


def _write_json(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)


def _addr(rng):
    return "0x" + rng.bytes(20).hex()


def _fresh(out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)


# ---------------------------------------------------------------- indexer

def log_dump(out, seed, blocks, n_contracts, n_txs=None, files=8,
             logs_per_block=10, chunk_size=1000):
    """JSONL dump of `blocks` blocks, about `logs_per_block` logs each, in
    block-ordered files. About half the lines are on configured
    (address, topic0) pairs; the rest sit on unconfigured addresses or
    on a configured address with an unconfigured topic. About 0.5% of
    configured lines carry a truncated payload (decodes to a null value)
    and about 0.5% of all lines are broken JSON (dropped by the scan).

    With `n_txs`, every log belongs to one of `n_txs` transactions, each
    signed by one of 8 seeded keys over a distinct message, and a `txs`
    parquet table carries the signature material.
    """
    _fresh(out)
    rng = np.random.default_rng([seed, n_contracts, 1 if n_txs else 0])
    names = ["TokenA", "TokenB", "TokenC"][:n_contracts]
    contracts = [_addr(rng) for _ in names]
    strangers = [_addr(rng) for _ in range(3)]
    holders = [_addr(rng) for _ in range(64)]
    if n_txs:
        keys = [int.from_bytes(rng.bytes(31), "big") + 1 for _ in range(8)]
        signers = [evmcrypto.address(k) for k in keys]
        tx_hashes = ["0x" + rng.bytes(32).hex() for _ in range(n_txs)]
        tx_key = rng.integers(0, len(keys), n_txs)
        # block-ordered: each transaction lives in one contiguous block range
        tx_block0 = np.sort(rng.integers(0, blocks, n_txs))
    counts = rng.poisson(logs_per_block, blocks)
    n = int(counts.sum())
    block_of = np.repeat(np.arange(blocks), counts)
    kind = rng.random(n)
    pick = rng.integers(0, 1 << 30, (n, 4))
    value_words = rng.integers(0, 1 << 62, (n, 2))
    broken_line = rng.random(n) < 0.005
    bad_payload = rng.random(n) < 0.005
    expected = {f"{c}/{e}": [] for c in names for e in ("Transfer", "Approval")}
    lines = []
    for i in range(n):
        b = int(block_of[i])
        if n_txs:
            t = int(np.searchsorted(tx_block0, b, side="right")) - 1
            t = max(0, min(n_txs - 1, t - int(pick[i, 3] % 3)))
            tx = tx_hashes[t]
        else:
            tx = "0x" + ("%016x" % (seed & 0xFFFFFFFFFFFF)) + ("%048x" % (i * 2654435761))
        k = kind[i]
        if k < 0.48:  # configured contract, configured event
            ci = int(pick[i, 0] % len(names))
            address = contracts[ci]
            event = "Transfer" if pick[i, 1] % 2 == 0 else "Approval"
            topic0 = TRANSFER if event == "Transfer" else APPROVAL
        elif k < 0.6:  # configured contract, unconfigured topic
            address, topic0, event = contracts[int(pick[i, 0] % len(names))], OTHER_TOPIC, None
        else:  # unconfigured address
            address = strangers[int(pick[i, 0] % 3)]
            topic0 = TRANSFER if pick[i, 1] % 2 == 0 else APPROVAL
            event = None
        a1 = holders[int(pick[i, 2] % 64)]
        a2 = holders[int((pick[i, 2] >> 6) % 64)]
        value = (int(value_words[i, 0]) << 20) ^ int(value_words[i, 1])
        data = "dead" if bad_payload[i] else "%064x" % value
        rec = {"block_number": b, "tx_hash": tx, "address": address, "topic0": topic0,
               "topic1": "0" * 24 + a1[2:], "topic2": "0" * 24 + a2[2:], "data": data}
        line = json.dumps(rec, separators=(",", ":"))
        if broken_line[i]:
            lines.append((b, line[: len(line) // 2]))
            continue
        lines.append((b, line))
        if event:
            ci = contracts.index(address)
            p1, p2 = INDEXED[event]
            row = {"tx_hash": tx, "block_number": str(b), "contract": address,
                   "chain_id": "1", p1: a1, p2: a2,
                   "value": "" if bad_payload[i] else str(value), "data_hex": "0x" + data}
            if n_txs:
                row["tx_from"] = signers[int(tx_key[t])]
            expected[f"{names[ci]}/{event}"].append(row)
    dump = os.path.join(out, "dump")
    os.makedirs(dump)
    per_file = -(-blocks // files)
    file_meta = []
    for f in range(files):
        lo, hi = f * per_file, min(blocks, (f + 1) * per_file) - 1
        chunk = [l for b, l in lines if lo <= b <= hi]
        name = f"logs-{f:03d}.jsonl"
        with open(os.path.join(dump, name), "w") as fh:
            fh.write("\n".join(chunk) + "\n")
        file_meta.append({"name": name, "min_block": lo, "max_block": hi, "lines": len(chunk)})
    with open(os.path.join(out, "token.json"), "w") as fh:
        json.dump(TOKEN_ABI, fh)
    cfg = ["rpc_url: \"replay\"", "start_block: 0", f"chunk_size: {chunk_size}", "contracts:"]
    for nm, ad in zip(names, contracts):
        cfg += [f"  - name: \"{nm}\"", f"    address: \"{ad}\"", "    abi: \"token.json\"",
                "    events: [\"Transfer\", \"Approval\"]"]
    cfg += ["storage:", "  type: \"csv\"", "  csv:", "    output_dir: \"unused\"", ""]
    with open(os.path.join(out, "config.yaml"), "w") as fh:
        fh.write("\n".join(cfg))
    manifest = {
        "blocks": blocks, "end_block": blocks - 1, "logs": n, "files": file_meta,
        "bytes": sum(os.path.getsize(os.path.join(dump, f["name"])) for f in file_meta),
        "configured_line_share": sum(len(v) for v in expected.values()) / n,
        "malformed_share": float((broken_line | bad_payload).mean()),
        "contracts": len(names), "chunk_size": chunk_size,
    }
    if n_txs:
        used = sorted({r["tx_hash"] for v in expected.values() for r in v})
        manifest["distinct_txs"] = n_txs
        manifest["distinct_txs_logged"] = len(used)
        _write_txs(out, rng, tx_hashes, tx_key, keys)
    _write_json(os.path.join(out, "manifest.json"), manifest)
    _write_json(os.path.join(out, "expected.json"),
                {k: sorted(json.dumps(r, sort_keys=True) for r in v)
                 for k, v in expected.items()})
    return manifest


def _write_txs(out, rng, tx_hashes, tx_key, keys):
    """One distinct signed message per transaction."""
    rows = {"tx_hash": [], "msg_hash": [], "sig_r": [], "sig_s": [], "rec_id": []}
    for i, h in enumerate(tx_hashes):
        msg = evmcrypto.keccak256(b"perfbench-tx-" + h.encode())
        nonce = int.from_bytes(rng.bytes(31), "big") + 1
        r, s, rec = evmcrypto.sign(msg, keys[int(tx_key[i])], nonce)
        rows["tx_hash"].append(h)
        rows["msg_hash"].append(msg)
        rows["sig_r"].append(r.to_bytes(32, "big"))
        rows["sig_s"].append(s.to_bytes(32, "big"))
        rows["rec_id"].append(rec)
    os.makedirs(os.path.join(out, "txs"))
    pq.write_table(pa.table({
        "tx_hash": pa.array(rows["tx_hash"], pa.string()),
        "msg_hash": pa.array(rows["msg_hash"], pa.binary()),
        "sig_r": pa.array(rows["sig_r"], pa.binary()),
        "sig_s": pa.array(rows["sig_s"], pa.binary()),
        "rec_id": pa.array(rows["rec_id"], pa.int32())}),
        os.path.join(out, "txs", "part-0.parquet"))


# ---------------------------------------------------------------- kernels

def kernel_inputs(out, seed, n_sigs=12, n_keccak=16):
    """Seeded signatures (with their signers) and 544-byte Keccak inputs
    (with their digests) for the traced run's kernel timings."""
    rng = np.random.default_rng([seed, 7])
    sigs = []
    for _ in range(n_sigs):
        key = int.from_bytes(rng.bytes(31), "big") + 1
        msg = rng.bytes(32)
        r, s, rec = evmcrypto.sign(msg, key, int.from_bytes(rng.bytes(31), "big") + 1)
        sigs.append({"msg": msg.hex(), "r": "%064x" % r, "s": "%064x" % s, "rec": rec,
                     "addr": evmcrypto.address(key)})
    keccak = []
    for _ in range(n_keccak):
        data = rng.bytes(544)
        keccak.append({"in": data.hex(), "out": evmcrypto.keccak256(data).hex()})
    _write_json(os.path.join(out, "kernel.json"), {"sigs": sigs, "keccak": keccak})


# ---------------------------------------------------------------- bots

POOLS = [f"{s}ETH{f}" for s in ("DAI", "USDC", "USDT") for f in (100, 500, 3000)]
SWAP_START = 1706616000  # 2024-01-30T12:00:00Z: the trading day crosses a month end


def swaps(out, seed, days, mean_gap_s=30):
    """About one swap per `mean_gap_s` seconds per pool for `days` days.
    Ticks follow a shared random walk plus a mean-reverting per-pool
    deviation; a third of the pools carry the opposite tick polarity.
    About 0.5% of lines are junk and one decoy file matches the read
    glob but not the pool-name pattern."""
    _fresh(out)
    rng = np.random.default_rng([seed, 3])
    d = os.path.join(out, "swaps")
    os.makedirs(d)
    span = days * 86400
    rows_read = 0
    n_swaps = 0
    base_steps = rng.normal(0, 1.5, span // 60 + 2).cumsum()
    for p, pool in enumerate(POOLS):
        n = int(span / mean_gap_s)
        ts = SWAP_START + np.unique(rng.integers(0, span, n))
        dev = np.zeros(len(ts))
        shocks = rng.normal(0, 4.0, len(ts))
        for i in range(1, len(ts)):
            dev[i] = 0.995 * dev[i - 1] + shocks[i]
        tick = 200000 + base_steps[(ts - SWAP_START) // 60] + dev + 3 * p
        sign = -1 if p % 3 == 0 else 1
        tick = (sign * np.round(tick)).astype(np.int64)
        junk = rng.random(len(ts)) < 0.005
        lines = ["timestamp,tick,extra"]
        for t, k, j in zip(ts.tolist(), tick.tolist(), junk.tolist()):
            lines.append("n/a,oops,junk" if j else f"{t},{k},{t % 7}")
        with open(os.path.join(d, f"{pool}_Swap.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        rows_read += len(lines) - 1
        n_swaps += int((~junk).sum())
    with open(os.path.join(d, "WBTCETH500_Swap.csv"), "w") as fh:
        fh.write("timestamp,tick,extra\n" + f"{SWAP_START},1,0\n")
    rows_read += 1
    manifest = {"pools": len(POOLS), "days": days, "swap_rows": n_swaps,
                "csv_rows_read": rows_read, "files": len(POOLS) + 1,
                "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest


# ---------------------------------------------------------------- tables

WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()


def tables(out, sf, seed=42):
    """Star schema plus events/documents/embeddings at scale factor `sf`,
    shaped like the repository's test tables (TESTDATA.md): same names,
    columns, types, value domains and row counts per scale factor."""
    _fresh(out)
    rng = np.random.default_rng(seed)
    us = "timestamp[us]"

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def days(lo, hi, n):
        lo_d = np.datetime64(lo, "D")
        span = (np.datetime64(hi, "D") - lo_d).astype(int)
        return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord), us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(days("1995-01-02", "2001-11-04", n_li), us)})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (gaps.cumsum() * 1e6).astype(
        "timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, us),
        "user_id": rng.integers(0, max(150, int(15000 * sf)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = int(50000 * sf)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb = max(500, int(20000 * sf))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    manifest = {"sf": sf, "seed": seed, "rows": {
        n: pq.ParquetFile(os.path.join(out, f"{n}.parquet")).metadata.num_rows
        for n in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings")}}
    _write_json(os.path.join(out, "manifest.json"), manifest)
    return manifest
