"""Seeded input generator for the pipeline benchmark.

An equivalent of the repo's ScaleGenV2 (src/test/scala/graft/tools) for the
tables the benchmark's workloads read, written with numpy + pyarrow so that
generating a fresh input per seed costs well under a second and needs no JVM:

- fact tables `events`, `orders`, `part` mirror ScaleGenV2's fact shapes
  (sequential keys, uniform users, one month of events, exactly-2dp money,
  `props` exactly '{"k": N}') at `fact_scale` sf0.001-equivalents;
- `documents` mirrors its corpus: Zipfian per-language vocabulary whose head
  holds the langid stopwords, 80/10/10 en/de/es, Zipf-skewed sources, and a
  duplicate rate where half the copies are byte-exact and half substitute one
  token.

Every value is a pure function of (seed, size); the same arguments give the
same files.  The oracle-parity invariants the catalog relies on (ASCII,
non-empty text, unique keys, 2dp money) hold by construction and are asserted.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on",
           "with", "data", "model", "train", "batch", "value", "stream",
           "table", "query", "index", "merge", "filter", "window", "group",
           "sort", "scan", "join", "order", "part", "line", "row", "key",
           "hash", "fast", "slow", "small", "large", "count", "total",
           "system", "result", "output", "input", "record", "field", "store",
           "cache", "shard", "block", "page", "node"],
    "de": ["der", "die", "und", "das", "ein", "ist", "mit", "auf",
           "nicht", "auch", "wert", "daten", "tisch", "spalte", "zeile",
           "gruppe", "folge", "satz", "menge", "teil", "feld", "werk",
           "zahl", "kette", "stueck", "punkt", "stand", "lauf", "zug", "bau"],
    "es": ["el", "los", "y", "las", "una", "que", "mas", "este",
           "por", "con", "dato", "valor", "tabla", "fila", "columna",
           "grupo", "orden", "parte", "campo", "clave", "conteo", "suma",
           "bloque", "pagina", "nodo", "indice", "mezcla", "filtro",
           "ventana", "carga"],
}
TAIL_PREFIX = {"en": "v", "de": "g", "es": "j"}
VOCAB = 30000
DAY_US = 86400 * 1000000
EPOCH_2024_US = 1704067200 * 1000000  # 2024-01-01T00:00:00
EPOCH_1995_US = 788918400 * 1000000   # 1995-01-01T00:00:00
MONTH_DAYS = 30


def _word(lang, rank):
    head = HEADS[lang]
    if rank <= len(head):
        return head[rank - 1]
    return TAIL_PREFIX[lang] + str(rank).translate(str.maketrans("0123456789", "abcdefghij"))


def _zipf_ranks(rng, n):
    u = (rng.integers(0, 1000000, size=n) + 0.5) / 1000000.0
    return np.clip(np.floor(np.exp(u * np.log(VOCAB))).astype(np.int64), 1, VOCAB)


def _money(rng, n, lo, hi):
    cents = rng.integers(int(round(lo * 100)), int(round(hi * 100)), size=n)
    return cents.astype(np.float64) / 100.0


def _pick(rng, n, values):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), size=n)]


def events_table(rng, fact_scale, days=MONTH_DAYS):
    n = 1000 * fact_scale
    n_users = 15 * fact_scale
    ts = EPOCH_2024_US + rng.integers(0, days * DAY_US, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
        "event_type": pa.array(_pick(rng, n, ["click", "view", "purchase", "signup", "error"]),
                               type=pa.string()),
        "value": pa.array(_money(rng, n, 0.0, 330.0)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n)],
                          type=pa.string()),
    })


def orders_table(rng, fact_scale):
    n = 1500 * fact_scale
    n_cust = 150 * fact_scale
    days = rng.integers(0, 2400, size=n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, n, ["F", "O", "P"]), type=pa.string()),
        "o_totalprice": pa.array(_money(rng, n, 900.0, 500000.0)),
        "o_orderdate": pa.array(EPOCH_1995_US + days * DAY_US, type=pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, n, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                   "4-NOT SPECIFIED", "5-LOW"]),
                                    type=pa.string()),
    })


def part_table(rng, fact_scale):
    n = 200 * fact_scale
    adj = _pick(rng, n, ["cold", "hot", "blue", "red", "small", "large"])
    noun = _pick(rng, n, ["widget", "bolt", "gear", "anvil", "ring", "plate"])
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([a + " " + b for a, b in zip(adj, noun)], type=pa.string()),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, size=n)],
                            type=pa.string()),
        "p_type": pa.array(_pick(rng, n, ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                          "ECONOMY", "PROMO"]), type=pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=n).astype(np.int32)),
        "p_retailprice": pa.array((rng.integers(9000, 10000, size=n) / 10.0)),
    })


def documents_table(rng, n_docs, dup_pct):
    # ids: distinct non-negative 63-bit values with no arithmetic structure
    ids = np.unique(rng.integers(0, 2 ** 63 - 1, size=n_docs * 2, dtype=np.int64))
    ids = rng.permutation(ids)[:n_docs]
    assert len(ids) == n_docs, "doc_id collision: enlarge the draw"
    lang_pick = rng.integers(0, 100, size=n_docs)
    n_toks = 20 + rng.integers(0, 180, size=n_docs)
    src_u = (rng.integers(0, 1000000, size=n_docs) + 0.5) / 1000000.0
    src_rank = np.clip(np.floor(np.exp(src_u * np.log(20.0))).astype(np.int64), 1, 20)
    is_dup = (rng.integers(0, 100, size=n_docs) < dup_pct) & (np.arange(n_docs) > 0)
    is_near = rng.integers(0, 2, size=n_docs) == 0
    ranks = _zipf_ranks(rng, int(n_toks.sum()))
    offsets = np.concatenate([[0], np.cumsum(n_toks)])
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if is_dup[i]:
            parent = int(rng.integers(0, i))
            lang, toks, src = langs[parent], texts[parent].split(" "), sources[parent]
            if is_near[i]:
                pos = int(rng.integers(0, len(toks)))
                toks[pos] = _word(lang, int(_zipf_ranks(rng, 1)[0]))
        else:
            p = lang_pick[i]
            lang = "en" if p < 80 else ("de" if p < 90 else "es")
            toks = [_word(lang, int(r)) for r in ranks[offsets[i]:offsets[i + 1]]]
            src = "src%d" % src_rank[i]
        texts.append(" ".join(toks))
        langs.append(lang)
        sources.append(src)
    assert all(t and t.isascii() for t in texts)
    return pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array(sources, type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def increments(events, days):
    """One increment per generated day: that day's rows plus value corrections
    to a slice of the previous three days (event_id % 10 == day % 10, so each
    event is corrected at most once), as `increments/dNN.parquet`."""
    day = ((events.column("ts").cast(pa.int64()).to_numpy() - EPOCH_2024_US) // DAY_US) + 1
    ids = events.column("event_id").to_numpy()
    value = events.column("value").to_numpy()
    out = {}
    for d in range(1, days + 1):
        own = day == d
        fix = (day >= d - 3) & (day < d) & (ids % 10 == d % 10)
        corrected = np.round(value * 100).astype(np.int64)
        corrected = np.where(fix, (corrected + 123) % 33000, corrected) / 100.0
        rows = own | fix
        inc = events.filter(pa.array(rows)).set_column(
            4, "value", pa.array(corrected[rows]))
        out["d%02d" % d] = inc
    return out


def input_spec(seed, fact_scale=0, n_docs=0, dup_pct=10, days=0):
    """What the generated files are a function of: the arguments and this
    generator's own source, so an edited generator never reuses old files."""
    with open(os.path.abspath(__file__), "rb") as f:
        source = hashlib.sha256(f.read()).hexdigest()[:16]
    return {"seed": seed, "fact_scale": fact_scale, "n_docs": n_docs,
            "dup_pct": dup_pct, "days": days, "generator": source}


def spec_key(spec):
    """A short stable name for an input spec (keys the oracle cache)."""
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]


def generate(out_dir, seed, fact_scale=0, n_docs=0, dup_pct=10, days=0):
    """Write the input tables for (seed, sizes) under out_dir; return row counts.

    `days` > 0 limits events to that many days from 2024-01-01 and writes one
    increment file per day. Reuses an existing complete directory for the
    same spec (arguments and generator source).
    """
    spec = input_spec(seed, fact_scale, n_docs, dup_pct, days)
    marker = os.path.join(out_dir, "_inputs.json")
    if os.path.exists(marker):
        with open(marker) as f:
            done = json.load(f)
        if done.get("spec") == spec:
            return done["rows"]
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    root = np.random.SeedSequence([seed & 0xFFFFFFFF, (seed >> 32) & 0xFFFFFFFF, 0x9E37])
    streams = dict(zip(["events", "orders", "part", "documents"], root.spawn(4)))
    tables = {}
    if fact_scale > 0 and days > 0:
        tables["events"] = events_table(np.random.default_rng(streams["events"]),
                                        fact_scale, days)
    elif fact_scale > 0:
        tables["events"] = events_table(np.random.default_rng(streams["events"]), fact_scale)
        tables["orders"] = orders_table(np.random.default_rng(streams["orders"]), fact_scale)
        tables["part"] = part_table(np.random.default_rng(streams["part"]), fact_scale)
    if n_docs > 0:
        tables["documents"] = documents_table(
            np.random.default_rng(streams["documents"]), n_docs, dup_pct)
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, name + ".parquet"))
        rows[name] = table.num_rows
    if days > 0:
        os.makedirs(os.path.join(out_dir, "increments"))
        for name, table in increments(tables["events"], days).items():
            pq.write_table(table, os.path.join(out_dir, "increments", name + ".parquet"))
            rows[name] = table.num_rows
    with open(marker, "w") as f:
        json.dump({"spec": spec, "rows": rows}, f)
    return rows
