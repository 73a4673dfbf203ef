"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from the workload seed: the wine
CSV of the ETL/ELT DAG, the TPC-H-like star schema plus the events,
documents and embeddings tables of the driver queries, and the op sequence
of the snapshot-store lifecycle together with the reference model's
expected row count and checksum after every step. The same seed gives the
same files byte for byte.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# wine CSV (the reference's ';'-separated 12-column white-wine schema)

WINE_HEADER = ['"fixed acidity"', '"volatile acidity"', '"citric acid"',
               '"residual sugar"', '"chlorides"', '"free sulfur dioxide"',
               '"total sulfur dioxide"', '"density"', '"pH"', '"sulphates"',
               '"alcohol"', '"quality"']
# quality classes in the proportions of winequality-white.csv (4,898 rows)
WINE_CLASSES = {3: 20, 4: 163, 5: 1457, 6: 2198, 7: 880, 8: 175, 9: 5}
# mean alcohol per class in the real file; the other features are
# independent of quality (mean, sd, lo, hi, decimals)
WINE_ALCOHOL = {3: 10.35, 4: 10.15, 5: 9.81, 6: 10.58, 7: 11.37, 8: 11.64,
                9: 12.18}
WINE_FEATURES = [
    (6.85, 0.84, 3.8, 14.2, 1), (0.28, 0.10, 0.08, 1.1, 2),
    (0.33, 0.12, 0.0, 1.66, 2), (6.39, 5.07, 0.6, 65.8, 1),
    (0.046, 0.022, 0.009, 0.346, 3), (35.3, 17.0, 2.0, 289.0, 0),
    (138.4, 42.5, 9.0, 440.0, 0), (0.994, 0.003, 0.987, 1.039, 4),
    (3.19, 0.15, 2.72, 3.82, 2), (0.49, 0.11, 0.22, 1.08, 2),
]


def wine(seed, rows, path):
    """Write the wine CSV; return the facts the DAG's outputs must match,
    computed here from the generated rows."""
    rng = np.random.default_rng([seed, 1])
    classes = np.array(sorted(WINE_CLASSES))
    p = np.array([WINE_CLASSES[c] for c in classes], dtype=float)
    quality = rng.choice(classes, size=rows, p=p / p.sum())
    cols = []
    for mean, sd, lo, hi, dec in WINE_FEATURES:
        cols.append(np.round(np.clip(rng.normal(mean, sd, rows), lo, hi), dec))
    alc_mean = np.vectorize(WINE_ALCOHOL.get)(quality)
    alcohol = np.round(np.clip(rng.normal(alc_mean, 1.2), 8.0, 14.2), 1)
    cols.append(alcohol)
    with open(path, "w") as f:
        f.write(";".join(WINE_HEADER) + "\n")
        fmt = [("%d" if d == 0 else "%%.%df" % d) for *_, d in WINE_FEATURES]
        fmt.append("%.1f")
        lines = []
        for i in range(rows):
            lines.append(";".join(fmt[j] % cols[j][i] for j in range(11)) +
                         ";%d" % quality[i])
        f.write("\n".join(lines) + "\n")
    # the values as Spark parses them back from the text
    alcohol = np.array([float("%.1f" % a) for a in alcohol])
    tsd = cols[6]
    report = []
    for q in sorted(set(quality[quality >= 7].tolist()), reverse=True):
        a = np.sort(alcohol[quality == q])
        report.append({
            "quality": int(q), "mean_v": round(float(a.mean()), 6),
            "median_v": round(float(np.median(a)), 6),
            "std_v": round(float(a.std(ddof=1)), 6) if len(a) > 1 else None,
            "min_v": float(a[0]), "max_v": float(a[-1]), "n": int(len(a))})
    return {"rows": rows, "high_quality_rows": int((quality >= 7).sum()),
            "elt_rows": int((tsd < 125).sum()), "report": report,
            "classes": sorted(set(quality.tolist()))}


# --------------------------------------------------------------------------
# star schema + events + documents + embeddings (the driver-query tables)

DAY = np.int64(86_400_000_000)


def _ts(days_from_epoch):
    return pa.array(days_from_epoch.astype(np.int64) * DAY,
                    type=pa.timestamp("us"))


def _epoch_day(y, m, d):
    return int((np.datetime64(f"{y:04d}-{m:02d}-{d:02d}") -
                np.datetime64("1970-01-01")).astype(int))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def tables(seed, sf, out):
    """Write the ten driver tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")
    d0, d1 = _epoch_day(1995, 1, 1), _epoch_day(2001, 8, 1)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(lineitem(rng, n_li, n_ord, n_part, n_supp), f"{out}/lineitem.parquet")
    t0 = _epoch_day(2024, 1, 1) * DAY
    ts = np.sort(t0 + rng.integers(0, 30 * DAY, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:   # near-duplicate of an earlier doc
            words = texts[rng.integers(0, i)].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(np.array(VOCAB)[
                rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.14, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)}),
        f"{out}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.6, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}),
        f"{out}/embeddings.parquet")


def lineitem(rng, n, n_ord, n_part, n_supp):
    s0, s1 = _epoch_day(1995, 1, 2), _epoch_day(2001, 11, 4)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n))})


# --------------------------------------------------------------------------
# snapshot-store lifecycle: op sequence + reference model

P = 1_000_000_007


def row_hash(lk, qty, partkey, suppkey, linenumber):
    """Per-row term of the order-insensitive checksum (the harness computes
    the same expression in Spark)."""
    return (lk * 2654435761 + qty * 40503 + partkey * 97 + suppkey * 13 +
            linenumber) % P


# one cycle of the lifecycle: writes and reads alternate, and the
# maintenance op (compact + expire + vacuum) closes every cycle
CYCLE = ["append", "current", "delete_where", "time_travel", "update_where",
         "predicate", "merge_cow", "point", "delete_keys", "changes",
         "maintenance", "sql"]
WRITES = {"append", "delete_where", "update_where", "merge_cow",
          "delete_keys", "maintenance"}
KEEP_VERSIONS = 4
APPEND_ROWS = 5_000
RANGE = 20_000


class Model:
    """The table as plain arrays: every row ever written, an alive mask,
    and the one mutable column (l_quantity)."""

    def __init__(self, li):
        self.n = li.num_rows
        self.cols = {c: li.column(c).to_numpy() for c in
                     ("l_partkey", "l_suppkey", "l_linenumber")}
        self.qty = li.column("l_quantity").to_numpy().astype(np.int64)
        self.alive = np.ones(self.n, dtype=bool)
        self.fixed = np.zeros(0, dtype=np.int64)

    def extend(self, li):
        for c in self.cols:
            self.cols[c] = np.concatenate([self.cols[c],
                                           li.column(c).to_numpy()])
        self.qty = np.concatenate(
            [self.qty, li.column("l_quantity").to_numpy().astype(np.int64)])
        self.alive = np.concatenate([self.alive, np.ones(li.num_rows, bool)])
        self.n += li.num_rows

    def state(self, mask=None):
        m = self.alive if mask is None else (self.alive & mask)
        line = self.cols["l_linenumber"][m].astype(np.int64)
        if len(self.fixed) != self.n:   # the hash terms of the immutable columns
            self.fixed = row_hash(np.arange(self.n, dtype=np.int64), 0,
                                  self.cols["l_partkey"], self.cols["l_suppkey"],
                                  self.cols["l_linenumber"].astype(np.int64))
        h = (self.fixed[m] + self.qty[m] * 40503) % P
        out = {"rows": int(m.sum()), "checksum": int(h.sum())}
        if mask is None:   # per-line counts and quantity sums, for the SQL reads
            n = np.bincount(line, minlength=8)
            q = np.bincount(line, weights=self.qty[m], minlength=8)
            out["lines"] = {ln: [int(n[ln]), int(round(q[ln]))] for ln in range(1, 8)}
        return out


def _keyed(li, first_key):
    return li.append_column(
        "lk", pa.array(np.arange(first_key, first_key + li.num_rows),
                       pa.int64()))


def lifecycle(seed, rows, cycles, out):
    """Write the base table and the payloads of `cycles` op cycles; return
    the op list with every expected result."""
    rng = np.random.default_rng([seed, 3])
    n_ord, n_part, n_supp = rows // 4, rows // 30, rows // 600
    base = lineitem(rng, rows, n_ord, n_part, n_supp)
    _write(_keyed(base, 0), f"{out}/base.parquet")
    m = Model(base)
    versions = {1: m.state()}        # commitOverwriteKeyed makes v1
    cur, floor = 1, 1
    steps = {}                        # version -> (inserted, deleted)
    ops = []

    def lk_range():
        a = int(rng.integers(0, max(1, m.n - RANGE)))
        return a, a + RANGE

    def commit(ins, dele):
        nonlocal cur
        cur += 1
        versions[cur] = m.state()
        steps[cur] = (ins, dele)
        op["changed"] = ins + dele

    def new_rows(n, tag):
        li = _keyed(lineitem(rng, n, n_ord, n_part, n_supp), m.n)
        path = f"{out}/{tag}.parquet"
        _write(li, path)
        m.extend(li)
        return path

    lk = lambda: np.arange(m.n)
    for c in range(cycles):
        for kind in CYCLE:
            op = {"kind": kind}
            if kind == "append":
                op["path"] = new_rows(APPEND_ROWS, f"append_{c}")
                commit(APPEND_ROWS, 0)
            elif kind == "delete_where":
                a, b = lk_range()
                q = int(rng.integers(40, 46))
                op["predicate"] = f"lk >= {a} AND lk < {b} AND l_quantity >= {q}"
                hit = m.alive & (lk() >= a) & (lk() < b) & (m.qty >= q)
                m.alive &= ~hit
                commit(0, int(hit.sum()))
            elif kind == "update_where":
                a, b = lk_range()
                ln = int(rng.integers(1, 8))
                op["predicate"] = f"lk >= {a} AND lk < {b} AND l_linenumber = {ln}"
                op["set"] = {"l_quantity": "l_quantity + 1"}
                hit = m.alive & (lk() >= a) & (lk() < b) & \
                    (m.cols["l_linenumber"] == ln)
                m.qty[hit] += 1
                commit(int(hit.sum()), int(hit.sum()))
            elif kind == "merge_cow":
                # new state of a key range: a tenth deleted, a tenth updated,
                # plus fresh inserts; untouched rows are not in the diff
                a, b = lk_range()
                pool = np.nonzero(m.alive & (lk() >= a) & (lk() < b))[0]
                pick = rng.permutation(pool)[:2 * (len(pool) // 10)]
                dele, upd = pick[:len(pick) // 2], pick[len(pick) // 2:]
                m.alive[dele] = False
                m.qty[upd] += 2
                op["delete_keys"] = dele.tolist()
                op["update_keys"] = upd.tolist()
                op["update_set"] = "l_quantity + 2"
                n_ins = 1_000
                op["insert_path"] = new_rows(n_ins, f"merge_{c}")
                commit(len(upd) + n_ins, len(upd) + len(dele))
            elif kind == "delete_keys":
                alive = np.nonzero(m.alive)[0]
                keys = rng.choice(alive, 500, replace=False)
                m.alive[keys] = False
                op["keys"] = sorted(keys.tolist())
                commit(0, 500)
            elif kind == "maintenance":
                commit(0, 0)                          # compactKeyed
                floor = max(floor, cur - KEEP_VERSIONS + 1)
                op["keep_from"] = floor
            elif kind == "current":
                op["version"] = cur
            elif kind == "time_travel":
                op["version"] = int(rng.integers(floor, cur + 1))
            elif kind == "predicate":
                a = int(rng.integers(0, max(1, m.n - 10_000)))
                op["predicate"] = f"lk >= {a} AND lk < {a + 10_000} AND l_quantity > 25"
                op["version"] = cur
                hit = (lk() >= a) & (lk() < a + 10_000) & (m.qty > 25)
                op["expect"] = {"rows": m.state(hit)["rows"]}
            elif kind == "point":
                vals = rng.choice(np.unique(m.cols["l_partkey"]), 8,
                                  replace=False)
                op["column"], op["values"] = "l_partkey", sorted(vals.tolist())
                op["version"] = cur
                op["expect"] = {"rows": m.state(
                    np.isin(m.cols["l_partkey"], vals))["rows"]}
            elif kind == "changes":
                op["from"], op["to"] = cur - 1, cur
                ins, dele = steps[cur]
                op["expect"] = {"inserted": ins, "deleted": dele}
            elif kind == "sql":
                v = int(rng.integers(floor, cur + 1))
                ln = int(rng.integers(1, 8))
                op["sql"] = (f"SELECT count(*) AS n, CAST(sum(l_quantity) AS "
                             f"BIGINT) AS q FROM li VERSION AS OF {v} "
                             f"WHERE l_linenumber = {ln}")
                op["version"] = v
                n, q = versions[v]["lines"][ln]
                op["expect"] = {"n": n, "q": q}
            if kind in WRITES or kind in ("current", "time_travel"):
                op.setdefault("version", cur)
                st = versions[op["version"]]
                op["expect"] = {"rows": st["rows"], "checksum": st["checksum"]}
            ops.append(op)
    return ops
