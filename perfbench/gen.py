"""Deterministic input generation for the benchmark.

Two kinds of input, both pure functions of their arguments:

* `base_tables(out_dir, sf)` writes the ten parquet tables the engine reads
  (`region nation customer supplier part orders lineitem events documents
  embeddings`), shaped like the engine's synthetic test data: same columns,
  types, value domains and row counts per scale factor. The base tables use
  a fixed seed, so every workload seed runs against the same tables.
* `etl_ticks` / `corpus_ticks` write one run's change-log ticks and ingest
  batches from the workload seed, and return what a correct engine must
  produce from them.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def doc_text(rng, n_words):
    return " ".join(rng.choice(WORDS, size=n_words))


def unit_vectors(rng, n, labels):
    centers = np.random.default_rng(7).normal(size=(10, DIM))
    v = centers[labels] * 0.35 + rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _vec_array(m):
    return pa.FixedSizeListArray.from_arrays(
        pa.array(m.reshape(-1), type=pa.float32()), DIM).cast(
            pa.list_(pa.float32()))


def base_tables(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = max(int(150_000 * sf), 20), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 50)
    n_ev, n_doc = max(int(1_000_000 * sf), 100), max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 40)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
    nouns = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    o_date = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    # TPC-H shape: 1-7 lines per order, (l_orderkey, l_linenumber) unique
    lines = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_ln = (np.arange(len(l_ok)) -
            np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    n_li = len(l_ok)
    perm = rng.permutation(n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ok[perm], "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": l_ln[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2436, n_li) * DAY_US)})
    ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": _ts(ts),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": rng.choice(["signup", "purchase", "view", "click",
                                  "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [doc_text(rng, n) for n in rng.integers(10, 101, n_doc)]
    for i in range(n_doc):  # 5% near-duplicates of an earlier doc
        if i > 0 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = "dup"
            texts[i] = " ".join(w)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _vec_array(unit_vectors(rng, n_emb, labels)),
        "label": labels.astype(np.int32)})


# --- etl_cdc ------------------------------------------------------------------

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority", "_seq"]
LINE_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
             "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
             "l_linestatus", "l_shipdate", "_seq"]


def _days(rng, n, lo, hi):
    return [str(d) for d in (EPOCH_1995 + rng.integers(lo, hi, n) * DAY_US)
            .astype("datetime64[us]").astype("datetime64[D]")]


def _dirty(rng, values):
    """Dirty casing and space padding, which the clean stage must undo."""
    lower = rng.random(len(values)) < 0.5
    left, right = rng.integers(0, 3, len(values)), rng.integers(0, 3, len(values))
    return [" " * a + (v.lower() if lo else v) + " " * b
            for v, lo, a, b in zip(values, lower, left, right)]


def _nums(rng, values):
    """Numbers as raw strings: mostly exact, some unparseable, some 0."""
    r = rng.random(len(values))
    return ["n/a" if x < 0.03 else "0" if x < 0.05 else f"{v:.2f}"
            for x, v in zip(r, values)]


def _dates(rng, days):
    """Dates as raw strings: mostly ISO, some unparseable, some month 13."""
    r = rng.random(len(days))
    return ["tbd" if x < 0.03 else d[:5] + "13" + d[7:] if x < 0.05 else d
            for x, d in zip(r, days)]


# The clean stage (graft.etl.Normalize) in Python, for the expected state:
# Spark's trim strips spaces only, and numOrNull maps 0 to NULL.

def clean_enum(s, allowed):
    u = None if s is None else s.strip(" ").upper()
    return u if u in allowed else None


def clean_num(s):
    try:
        v = float(s)
    except (TypeError, ValueError):
        return None
    return None if v == 0.0 else v


def clean_date(s):
    try:
        np.datetime64(s, "D")
    except (TypeError, ValueError):
        return None
    return s if len(s) == 10 else None


def etl_base(data_dir):
    """The keyed targets as set-up seeds them: cleaned base rows, seq 0."""
    import pyarrow.compute as pc

    def rows(table, cols, date_col):
        t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
        t = t.set_column(t.schema.get_field_index(date_col), date_col,
                         pc.strftime(t[date_col], "%Y-%m-%d"))
        return zip(*(t[c].to_pylist() if c != "_seq" else [0] * t.num_rows
                     for c in cols))

    orders = {(r[0],): r for r in rows("orders", ORDER_COLS, "o_orderdate")}
    lines = {(r[0], r[1]): r for r in rows("lineitem", LINE_COLS, "l_shipdate")}
    return orders, lines


def etl_ticks(out_dir, data_dir, seed, n_ticks, change_frac):
    """Write `n_ticks` change-log ticks and return, per tick, the keyed rows
    a correct engine applies (last write wins on `_seq` among valid rows).

    Each tick changes `change_frac` of the keys of each table: mostly
    updates of existing keys, some inserts of new keys, and a fixed set of
    hot keys that recur in every tick, twice within a tick, so later writes
    must win. Raw rows come dirty (case, padding, bad numbers, bad dates,
    some invalid enum values and NULL key parts). The change log mixes in
    NULL keys, NULL entities and an entity nobody consumes, and the raw
    source holds rows the change log does not name, which must not apply."""
    rng = np.random.default_rng([seed, 1])
    orders, lines = etl_base(data_dir)
    o_keys = np.array(sorted(k[0] for k in orders))
    l_keys = sorted(lines)
    n_o = max(int(len(o_keys) * change_frac), 4)
    n_l = max(int(len(l_keys) * change_frac), 4)
    hot_o = rng.choice(o_keys, size=max(n_o // 10, 1), replace=False)
    hot_l = [l_keys[i] for i in rng.choice(len(l_keys), max(n_l // 10, 1),
                                           replace=False)]
    next_order = int(o_keys.max()) + 1
    seq = 0
    applied = []
    for t in range(n_ticks):
        tick_dir = os.path.join(out_dir, f"tick_{t:03d}")
        os.makedirs(tick_dir, exist_ok=True)
        # changed keys: hot + random updates + inserts
        upd_o = list(hot_o) + list(rng.choice(o_keys, n_o - len(hot_o) - n_o // 10))
        ins_o = list(range(next_order, next_order + n_o // 10))
        upd_l = hot_l + [l_keys[i] for i in rng.choice(
            len(l_keys), n_l - len(hot_l) - n_l // 10)]
        ins_l = [(next_order + j, int(rng.integers(1, 8)))
                 for j in range(n_l // 10)]
        next_order += max(n_o // 10, n_l // 10) + 1
        changed_o = sorted(set(int(k) for k in upd_o + ins_o))
        changed_l = sorted(set((int(a), int(b)) for a, b in upd_l + ins_l))
        hot_o_set = set(int(k) for k in hot_o)
        hot_l_set = set(hot_l)

        o_keys_t = [k for k in changed_o for _ in range(2 if k in hot_o_set else 1)]
        n = len(o_keys_t)
        o_seq = list(range(seq + 1, seq + n + 1))
        seq += n
        raw_o = list(zip(
            o_keys_t, rng.integers(0, 15000, n).tolist(),
            _dirty(rng, rng.choice(["F", "O", "P", "X"], n, p=[.3, .3, .3, .1]).tolist()),
            _nums(rng, rng.uniform(1000, 500000, n)),
            _dates(rng, _days(rng, n, 0, 2404)),
            _dirty(rng, rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], n).tolist()),
            o_seq))
        l_keys_t = [k for k in changed_l for _ in range(2 if k in hot_l_set else 1)]
        n = len(l_keys_t)
        l_seq = list(range(seq + 1, seq + n + 1))
        seq += n
        null_ln = rng.random(n) < 0.05
        raw_l = list(zip(
            [ok * 8 + ln for ok, ln in l_keys_t], [ok for ok, _ in l_keys_t],
            [None if z else ln for (_, ln), z in zip(l_keys_t, null_ln)],
            rng.integers(0, 20000, n).tolist(), rng.integers(0, 1000, n).tolist(),
            _nums(rng, rng.integers(1, 51, n).astype(float)),
            _nums(rng, rng.uniform(900, 105000, n)),
            (rng.integers(0, 11, n) / 100.0).tolist(),
            _dirty(rng, rng.choice(["N", "R", "A", "Z"], n, p=[.3, .3, .3, .1]).tolist()),
            _dirty(rng, rng.choice(["F", "O"], n).tolist()),
            _dates(rng, _days(rng, n, 1, 2436)), l_seq))
        # rows the change log does not name: present in the source, not applied
        co, cl = set(changed_o), set(changed_l)
        for k in rng.choice(o_keys, max(n_o // 10, 1)):
            if int(k) not in co:
                seq += 1
                raw_o.append((int(k), 1, "F", "1.00", "2000-01-01", "1-URGENT", seq))
        for i in rng.choice(len(l_keys), max(n_l // 10, 1)):
            ok, ln = l_keys[i]
            if (ok, ln) not in cl:
                seq += 1
                raw_l.append((ok * 8 + ln, ok, ln, 1, 1, "1.00", "1.00", 0.0,
                              "N", "F", "2000-01-01", seq))
        raw_o = [raw_o[i] for i in rng.permutation(len(raw_o))]
        raw_l = [raw_l[i] for i in rng.permutation(len(raw_l))]

        log = ([("orders", k) for k in changed_o] +
               [("lineitem", ok * 8 + ln) for ok, ln in changed_l] +
               [("orders", k) for k in hot_o_set])
        n_noise = max(len(log) // 50, 1)
        log += [("orders", None)] * n_noise + [("lineitem", None)] * n_noise
        log += [(None, int(k)) for k in rng.choice(o_keys, n_noise)]
        log += [("customer", int(k)) for k in rng.integers(0, 15000, n_noise)]
        order = rng.permutation(len(log))
        log = [log[i] for i in order]
        pq.write_table(pa.table({
            "log_id": pa.array(range(len(log)), pa.int64()),
            "entity": pa.array([e for e, _ in log], pa.string()),
            "ref_key": pa.array([k for _, k in log], pa.int64())}),
            os.path.join(tick_dir, "changelog.parquet"))
        o_cols = list(zip(*raw_o))
        pq.write_table(pa.table({
            "o_orderkey": pa.array(o_cols[0], pa.int64()),
            "o_custkey": pa.array(o_cols[1], pa.int64()),
            "o_orderstatus": pa.array(o_cols[2], pa.string()),
            "o_totalprice": pa.array(o_cols[3], pa.string()),
            "o_orderdate": pa.array(o_cols[4], pa.string()),
            "o_orderpriority": pa.array(o_cols[5], pa.string()),
            "_seq": pa.array(o_cols[6], pa.int64())}),
            os.path.join(tick_dir, "raw_orders.parquet"))
        l_cols = list(zip(*raw_l))
        names = ["l_key", "l_orderkey", "l_linenumber", "l_partkey",
                 "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
                 "l_returnflag", "l_linestatus", "l_shipdate", "_seq"]
        types = [pa.int64(), pa.int64(), pa.int32(), pa.int64(), pa.int64(),
                 pa.string(), pa.string(), pa.float64(), pa.string(),
                 pa.string(), pa.string(), pa.int64()]
        pq.write_table(pa.table({n: pa.array(c, t) for n, c, t in
                                 zip(names, l_cols, types)}),
                       os.path.join(tick_dir, "raw_lineitem.parquet"))

        # what a correct engine applies from this tick
        o_apply, l_apply = {}, {}
        for k, cust, st, price, day, prio, s in raw_o:
            if k not in co:
                continue
            st = clean_enum(st, ("F", "O", "P"))
            if st is None:
                continue
            row = (k, cust, st, clean_num(price), clean_date(day),
                   prio.strip(" ").upper(), s)
            if (k,) not in o_apply or o_apply[(k,)][-1] < s:
                o_apply[(k,)] = row
        for (lk, ok, ln, pk, sk, qty, price, disc, flag, status, day,
             s) in raw_l:
            if ln is None or (ok, ln) not in cl:
                continue
            flag = clean_enum(flag, ("N", "R", "A"))
            if flag is None:
                continue
            row = (ok, ln, pk, sk, clean_num(qty), clean_num(price), disc,
                   flag, clean_enum(status, ("F", "O")), clean_date(day), s)
            if (ok, ln) not in l_apply or l_apply[(ok, ln)][-1] < s:
                l_apply[(ok, ln)] = row
        applied.append((o_apply, l_apply))
    return orders, lines, applied


# --- corpus_ingest -------------------------------------------------------------

def corpus_ticks(out_dir, data_dir, seed, n_ticks, batch):
    """Write `n_ticks` ingest batches, plus a replay of the first batch and
    an erase of some of its fresh documents; return what was planted, for
    the output checks.

    A batch is 70% fresh documents (10% of them without an embedding), 15%
    exact re-deliveries of base documents, 15% near variants of base
    documents (one word changed), and one empty-text row that the normalize
    step drops."""
    rng = np.random.default_rng([seed, 2])
    base = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    plan = {"ticks": []}
    for t in range(n_ticks):
        n_fresh, n_exact = int(batch * 0.7), int(batch * 0.15)
        n_near = batch - n_fresh - n_exact
        ids = list(range(1_000_000 + t * 1000, 1_000_000 + t * 1000 + batch + 1))
        texts = [doc_text(rng, int(n)) for n in rng.integers(10, 101, n_fresh)]
        texts += [base[int(i)] for i in rng.integers(0, len(base), n_exact)]
        for i in rng.integers(0, len(base), n_near):
            w = base[int(i)].split()
            j = int(rng.integers(0, len(w)))
            w[j] = str(rng.choice([x for x in WORDS if x != w[j]]))
            texts.append(" ".join(w))
        texts.append("   ")
        vecs = unit_vectors(rng, len(texts), rng.integers(0, 10, len(texts)))
        order = rng.permutation(len(texts))
        has_vec = rng.random(len(texts)) >= 0.1
        table = pa.table({
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "embedding": pa.array(
                [vecs[i].tolist() if i < n_fresh and has_vec[i] else None
                 for i in order], pa.list_(pa.float32()))})
        tick_dir = os.path.join(out_dir, f"tick_{t:03d}")
        os.makedirs(tick_dir)
        pq.write_table(table, os.path.join(tick_dir, "batch.parquet"))
        plan["ticks"].append({"rows": len(texts) - 1, "exact": n_exact})
        if t == 0:
            os.makedirs(os.path.join(out_dir, "replay"))
            pq.write_table(table, os.path.join(out_dir, "replay", "batch.parquet"))
            plan["replay"] = {"rows": len(texts) - 1}
            subjects = [int(i) for i in rng.choice(ids[:n_fresh], 8, replace=False)]
            os.makedirs(os.path.join(out_dir, "erase"))
            pq.write_table(pa.table({"doc_id": pa.array(subjects, pa.int64())}),
                           os.path.join(out_dir, "erase", "ids.parquet"))
            plan["erase"] = {"subjects": len(subjects)}
    return plan
