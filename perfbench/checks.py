"""Correctness checks of a benchmark run, made apart from the engine.

Each checker takes what the run served and an answer computed another
way, and returns a list of problems (empty when the check passes):

- check_twins: dashboard panels against DuckDB twins of the four grid
  panel shapes, generalized from the engine's registered p76-p79 twins to
  any (start, end, step);
- check_identity: every cache-served response is byte-identical to the
  uncached Api answer for the same request;
- check_range_instant: a query_range answer at instant t equals the
  instant query at time=t (PromQL evaluates each instant independently);
- check_durability: the raw-segment view holds every acknowledged sample
  exactly once (count and an order-free digest);
- check_curation: each curation query's rows equal its oracleSql answer
  (kept as a row count and digest, see curation_answer).
"""
import hashlib
import json
import math
import os
import struct

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

MASK = (1 << 64) - 1


# ---- order-free sample digest (the generator's, WriteGen.sampleHash) ----

def fnv(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001b3) & MASK
    return h


def sample_hash(name, k, ts_ms, value):
    bits = struct.unpack("<q", struct.pack("<d", value))[0]
    return fnv(f"{name}|{k}|{ts_ms}|{bits}")


def digest(rows):
    return sum(sample_hash(*r) for r in rows) & MASK


# ---- DuckDB ----

def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def cached_rows(con, sql, cache_dir):
    """Rows of `sql`, kept in `cache_dir` by the hash of the SQL text."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".json") if cache_dir else None
    if path and os.path.exists(path):
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([[encode_num(v) for v in r] for r in rows], f)
        os.replace(tmp, path)
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    return rows


def encode_num(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float) and math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    return v


def num(v):
    return float(v) if isinstance(v, str) else v


# ---- generalized grid panel twins ----

def twin_sql(events_sql, shape, metric, k, window_s, q, start, end, step):
    """DuckDB twin of one grid panel over instants start..end by step.

    Instant t's bound is t plus the corpus instant's sub-second part, the
    anchoring of the engine's grid (the registered twins write it as
    t_us - (240 - i) * step). Label columns come first, then t_s, value.
    """
    head = (f"WITH m AS ({events_sql}),\n"
            "t AS (SELECT MAX(epoch_us(ts)) AS t_us FROM m),\n"
            f"inst AS (SELECT unnest(generate_series({int(start)}, {int(end)}, "
            f"{int(step)})) AS t_s)")
    bound = "(i.t_s * 1000000 + t.t_us % 1000000)"
    win = int(window_s) * 1000000
    if shape == "counter_sum":
        return head + f"""
SELECT m.label_k, i.t_s,
  CAST(SUM(CAST(m.value AS DECIMAL(18,2))) AS DOUBLE) AS value
FROM m, t, inst i
WHERE m.name = '{metric}' AND m.value >= 0 AND epoch_us(m.ts) <= {bound}
GROUP BY m.label_k, i.t_s
ORDER BY m.label_k, i.t_s"""
    if shape == "rate_sum":
        return head + f"""
SELECT m.label_k, i.t_s,
  CAST(SUM(CAST(m.value AS DECIMAL(18,2))) AS DOUBLE) / {int(window_s)}.0 AS value
FROM m, t, inst i
WHERE m.name = '{metric}' AND m.value >= 0
  AND epoch_us(m.ts) <= {bound} AND epoch_us(m.ts) > {bound} - {win}
GROUP BY m.label_k, i.t_s
ORDER BY m.label_k, i.t_s"""
    if shape == "gauge":
        return head + f""",
r AS (
  SELECT m.name, m.label_k, m.label_instance, i.t_s, m.value,
    ROW_NUMBER() OVER (
      PARTITION BY m.name, m.label_k, m.label_instance, i.t_s
      ORDER BY m.ts DESC, m.event_id DESC) AS rn
  FROM m, t, inst i
  WHERE m.name = '{metric}' AND m.label_k = '{k}' AND epoch_us(m.ts) <= {bound})
SELECT name, label_k, label_instance, t_s, value
FROM r WHERE rn = 1
ORDER BY name, label_k, label_instance, t_s"""
    if shape == "hq":
        return head + f""",
w AS (
  SELECT m.label_k, i.t_s, m.value
  FROM m, t, inst i
  WHERE m.name = '{metric}'
    AND epoch_us(m.ts) <= {bound} AND epoch_us(m.ts) > {bound} - {win}),
b AS (SELECT * FROM (VALUES (1.0),(5.0),(10.0),(25.0),(50.0),(100.0),(150.0)) b(le)),
snap AS (
  SELECT label_k, t_s, le,
    CAST(SUM(CASE WHEN value <= le THEN 1 ELSE 0 END) AS BIGINT) AS cum_count,
    COUNT(*) AS cnt
  FROM w CROSS JOIN b
  GROUP BY label_k, t_s, le),
r AS (
  SELECT *, {q!r} * CAST(cnt AS DOUBLE) AS rnk,
    COALESCE(LAG(le) OVER w2, 0.0) AS prev_le,
    COALESCE(LAG(cum_count) OVER w2, 0) AS prev_cum,
    MAX(le) OVER w3 AS max_le,
    MAX(cum_count) OVER w3 AS max_cum
  FROM snap
  WINDOW w2 AS (PARTITION BY label_k, t_s ORDER BY le),
         w3 AS (PARTITION BY label_k, t_s))
SELECT label_k, t_s, value FROM (
  SELECT label_k, t_s,
    prev_le + (le - prev_le) * (rnk - CAST(prev_cum AS DOUBLE))
      / CAST(cum_count - prev_cum AS DOUBLE) AS value
  FROM r WHERE CAST(cum_count AS DOUBLE) >= rnk AND CAST(prev_cum AS DOUBLE) < rnk
  UNION ALL
  SELECT label_k, t_s, max_le AS value
  FROM r WHERE le = max_le AND rnk > CAST(max_cum AS DOUBLE))
ORDER BY label_k, t_s"""
    raise ValueError(f"no twin for shape {shape}")


def twin_points(rows, shape):
    """{(labels, t): value} from twin rows, labels as the API names them."""
    out = {}
    for r in rows:
        if shape == "gauge":
            name, k, inst, t, v = r
            labels = (("__name__", name), ("instance", inst), ("k", k))
        else:
            k, t, v = r
            labels = (("k", k),)
        out[(labels, int(t))] = num(v)
    return out


# ---- response parsing ----

def metric_key(metric):
    return tuple(sorted(metric.items()))


def parse_matrix(body):
    doc = json.loads(body)
    if doc.get("status") != "success" or doc["data"]["resultType"] != "matrix":
        raise ValueError("not a matrix response")
    return {metric_key(s["metric"]): {int(float(t)): v for t, v in s["values"]}
            for s in doc["data"]["result"]}


def parse_vector(body):
    doc = json.loads(body)
    if doc.get("status") != "success" or doc["data"]["resultType"] != "vector":
        raise ValueError("not a vector response")
    return {metric_key(s["metric"]): s["value"][1] for s in doc["data"]["result"]}


def same_value(served, expected):
    a, b = float(served), float(expected)
    return a == b or (math.isnan(a) and math.isnan(b))


# ---- checkers ----

def check_twins(entry, body, rows, t_corpus):
    """One served panel against its twin's rows."""
    shape = entry["twin"]["shape"]
    want = twin_points(rows, shape)
    try:
        if entry["kind"] == "range":
            got = {(lab, t): v for lab, vs in parse_matrix(body).items()
                   for t, v in vs.items()}
        else:
            got = {(lab, int(t_corpus)): v
                   for lab, v in parse_vector(body).items()}
    except (ValueError, KeyError) as e:
        return [f"{entry['key']}: unreadable response ({e})"]
    if set(got) != set(want):
        extra = sorted(set(got) - set(want))[:2]
        missing = sorted(set(want) - set(got))[:2]
        return [f"{entry['key']}: points differ from the twin "
                f"({len(got)} served, {len(want)} expected; "
                f"extra {extra}, missing {missing})"]
    bad = [p for p in want if not same_value(got[p], want[p])]
    if bad:
        p = bad[0]
        return [f"{entry['key']}: {len(bad)} values differ from the twin, "
                f"first {p}: served {got[p]}, expected {want[p]!r}"]
    return []


def check_identity(entry, uncached_body):
    """Every serving of a request is byte-identical to the uncached answer."""
    want = hashlib.sha256(uncached_body).hexdigest()
    bad = [i for i, s in enumerate(entry["served"]) if s != want]
    if bad:
        return [f"{entry['key']}: {len(bad)} of {len(entry['served'])} "
                "cache-served responses differ from the uncached answer"]
    return []


def check_range_instant(key, range_body, t, instant_body):
    try:
        series = parse_matrix(range_body)
        inst = parse_vector(instant_body)
    except (ValueError, KeyError) as e:
        return [f"{key}: unreadable response ({e})"]
    at_t = {lab: vs[int(t)] for lab, vs in series.items() if int(t) in vs}
    if set(at_t) != set(inst):
        return [f"{key}: at t={int(t)} the range answer has {len(at_t)} series, "
                f"the instant query {len(inst)}"]
    bad = [lab for lab in inst if at_t[lab] != inst[lab]]
    if bad:
        lab = bad[0]
        return [f"{key}: at t={int(t)} series {dict(lab)} reads {at_t[lab]} "
                f"in the range answer, {inst[lab]} at the instant"]
    return []


def check_durability(rows, sent_count, sent_digest):
    """rows: (name, k, ts_ms, value) of the raw-segment view."""
    problems = []
    if len(rows) != sent_count:
        problems.append(f"view holds {len(rows)} samples, {sent_count} acknowledged")
    keys = {(n, k, ts) for n, k, ts, _ in rows}
    if len(keys) != len(rows):
        problems.append(f"{len(rows) - len(keys)} samples are held more than once")
    if digest(rows) != int(sent_digest):
        problems.append("view digest differs from the digest of what was sent")
    return problems


def canonical_rows(rows):
    """Rows as sortable tuples, floats exact, NaN and None comparable."""
    def cell(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, "NaN") if math.isnan(v) else (2, v)
        if isinstance(v, (int, bool)):
            return (2, float(v)) if not isinstance(v, bool) else (3, v)
        if isinstance(v, (list, tuple)):
            return (4, tuple(cell(x) for x in v))
        if isinstance(v, dict):
            return (5, tuple(sorted((k, cell(x)) for k, x in v.items())))
        return (6, str(v))
    return sorted(tuple(cell(v) for v in r) for r in rows)


def curation_answer(cols, rows):
    """Order-free summary of a query answer: sorted column names, row
    count and a digest of the rows in canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = canonical_rows([tuple(r[i] for i in order) for r in rows])
    return {"columns": [cols[i] for i in order], "rows": len(canon),
            "digest": hashlib.sha256(repr(canon).encode()).hexdigest()}


def check_curation(name, got_cols, got_rows, want):
    """One curation query's rows against its oracle answer's summary."""
    got = curation_answer(got_cols, got_rows)
    if got["columns"] != want["columns"]:
        return [f"{name}: columns {got['columns']} differ from the oracle's "
                f"{want['columns']}"]
    if got["rows"] != want["rows"]:
        return [f"{name}: {got['rows']} rows, the oracle has {want['rows']}"]
    if got["digest"] != want["digest"]:
        return [f"{name}: rows differ from the oracle's"]
    return []
