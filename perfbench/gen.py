"""Seeded input generators for the perfbench workloads.

Everything here is a pure function of its seed: the same seed gives
byte-identical parquet files, HTML pages and ingest batches, a different
seed gives different ones (pinned by selftest.py).

* tables(): the ten catalog tables (TPC-H-shaped star schema, `events`,
  `documents`, `embeddings`) with the column names, types and value
  distributions of the repo's reference test data (TESTDATA.md).
* pipeline_cycles(): one jackpot page per source per EP1 cycle plus the
  decision and amounts each cycle must produce.
* ingest_stream(): document batches with re-injected verbatim copies and
  near-copies (one word appended) of earlier documents under fresh ids.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join big small query order group filter "
         "column data stream customer vector").split()
LANGS = (["en"] * 8 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3 + ["zh"] * 3)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
US_PER_DAY = 86_400_000_000


def _rng(seed, stream):
    """Independent generator per (seed, stream name)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(start, days, rng, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + rng.integers(0, days * US_PER_DAY, n)).astype("datetime64[us]")


def _dates(start, days, rng, n):
    return (np.datetime64(start, "D") + rng.integers(0, days, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    ids = rng.integers(0, len(WORDS), lens.sum())
    words = np.array(WORDS)[ids]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos:pos + k]))
        pos += k
    return out


def documents_table(rng, n, first_id=0):
    """`n` documents; 5% of them near-copies (" dup" appended) of another."""
    texts = _texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def tables(seed, sf):
    """The ten catalog tables at scale factor `sf`, as pyarrow tables."""
    r = lambda name: _rng(seed, name)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    g = r("customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_cust)]})
    g = r("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp)})
    g = r("part")
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)})
    g = r("orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, 1000, 500_000, n_ord),
        "o_orderdate": _dates("1995-01-01", 2404, g, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_ord)]})
    g = r("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": g.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(g, 900, 105_000, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": _dates("1995-01-02", 2498, g, n_li)})
    g = r("events")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts("2024-01-01", 30, g, n_ev)),
        "user_id": g.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    out["documents"] = documents_table(r("documents"), n_docs)
    g = r("embeddings")
    labels = g.integers(0, 10, n_vec)
    centers = g.normal(0, 1, (10, 64))
    vec = centers[labels] + g.normal(0, 0.8, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return out


def write_tables(seed, sf, out_dir):
    """Write the tables as `<out_dir>/<name>.parquet` (one file, one row
    group each, like the reference data)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) or 1)


# --- EP1 pipeline pages ------------------------------------------------------

CATEGORIES = ["Loto Clásico", "Recargado", "Revancha", "Desquite",
              "Jubilazo $1.000.000", "Jubilazo $500.000",
              "Jubilazo 50 años $1.000.000", "Jubilazo 50 años $500.000"]
OPENLOTO_LABELS = {"Loto Clásico": "Loto Cl&aacute;sico estimado",
                   "Recargado": "Recargado", "Revancha": "Revancha",
                   "Desquite": "Desquite",
                   "Jubilazo $1.000.000": "Jubilazo $1.000.000"}
POLLA_LOGOS = {"Loto Clásico": "new_loto_logo.png", "Recargado": "recargado.png",
               "Revancha": "revancha.png", "Desquite": "desquite.png"}
MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
          "agosto", "septiembre", "octubre", "noviembre", "diciembre"]


def _millones(m):
    """6300 → "6.300" (Spanish thousands separator, millions of CLP)."""
    return f"{m:,}".replace(",", ".")


def _openloto_page(amounts, sorteo, fecha):
    rows = "\n".join(f"<p>{OPENLOTO_LABELS[c]}: ${_millones(amounts[c])} MILLONES</p>"
                     for c in OPENLOTO_LABELS)
    total = sum(amounts[c] for c in OPENLOTO_LABELS)
    return ("<html><head><title>Pozo del Loto</title><style>p{margin:0}</style>"
            "</head><body>\n<h1>Pozo estimado del Loto</h1>\n"
            f"<p>Pr&oacute;ximo Sorteo: {_fecha_text(fecha)} Sorteo N&deg; {sorteo}</p>\n"
            f"{rows}\n<p>Total estimado: ${_millones(total)} MILLONES</p>\n"
            "</body></html>\n")


def _polla_page(amounts, sorteo, fecha):
    subs = "\n".join(
        f'    <li class="sub-game">\n'
        f'      <span class="img-wrap"><img src="/static/assets/{POLLA_LOGOS[c]}"/></span>\n'
        f'      <span class="prize">${_millones(amounts[c])}</span>\n'
        f'      <span>MILLONES</span>\n    </li>' for c in POLLA_LOGOS)
    total = sum(amounts.values())
    return ("<!DOCTYPE html>\n<html>\n<head><title>Polla Chilena de Beneficencia</title>\n"
            "<script>window.__APP__ = {hydrated: true};</script>\n</head>\n<body>\n"
            '<div class="jackpot-banner">\n  <ul class="jackpot-list">\n'
            '    <li class="total-row">\n'
            "      <span>POZO TOTAL ESTIMADO A REPARTIR ENTRE TODAS LAS CATEGOR&Iacute;AS</span>\n"
            f'      <span class="prize">${_millones(total)}</span>\n'
            "      <span>MILLONES</span>\n    </li>\n"
            f"{subs}\n  </ul>\n"
            '  <div class="draw-info">Fecha Pr&oacute;ximo Sorteo: '
            f"{_fecha_text(fecha)} Sorteo N&deg; {sorteo}</div>\n</div>\n</body>\n</html>\n")


def _fecha_text(fecha):
    return f"{fecha.day} de {MONTHS[fecha.month - 1]} de {fecha.year}"


# Decision mix of the warm cycles. The reference runs the pipeline once a
# day (BASELINE.md, "Scheduled cadence") and Loto is drawn three times a
# week (Tuesday, Thursday, Sunday), so 3 of 7 daily runs see a new draw and
# publish, and 4 of 7 see the unchanged draw and skip. Quarantine is the
# rare fault path: one cycle a run, so that its check is exercised.
DRAW_STEPS = (2, 3, 2)   # days between Tuesday, Thursday, Sunday draws


def decision_mix(n_warm):
    """The decisions of `n_warm` warm cycles, in a fixed order: the same
    count of each kind for every seed."""
    quarantine = 1 if n_warm >= 2 else 0
    publish = round((n_warm - quarantine) * 3 / 7)
    return (["publish"] * publish + ["quarantine"] * quarantine
            + ["skip"] * (n_warm - quarantine - publish))


def pipeline_cycles(seed, n):
    """`n` EP1 cycles. Each cycle is a dict with both sources' pages, the
    amounts each source encodes, and the decision the pipeline must reach:

    * publish: a new draw whose two sources agree;
    * quarantine: a new draw where polla disagrees on three of its four
      categories by more than 10% (mismatch ratio 3/8 > 0.25);
    * skip: the previous cycle's pages served again (unchanged draw).

    Cycle 0 publishes; the warm cycles follow `decision_mix` in a seeded
    order, so the seed varies only the amounts, the dates and the order.
    Consensus resolves every category to the openloto amount (openloto
    reports all eight categories and wins ties on priority), so the
    expected resolved amounts are the openloto amounts.
    """
    g = _rng(seed, "pipeline")
    kinds = decision_mix(n - 1)
    g.shuffle(kinds)
    kinds = ["publish"] + kinds
    out, prev, sorteo = [], None, 5000 + int(g.integers(0, 400))
    fecha = dt.date(2026, 1, 4) + dt.timedelta(weeks=int(g.integers(0, 40)))
    for kind in kinds[:n]:
        if kind == "skip":
            cyc = dict(prev, decision="skip")
        else:
            fecha += dt.timedelta(days=DRAW_STEPS[sorteo % 3])
            sorteo += 1
            ol = {c: int(g.integers(1, 80)) * 100 if c in OPENLOTO_LABELS else 0
                  for c in CATEGORIES}
            po = {c: ol[c] for c in POLLA_LOGOS}
            if kind == "quarantine":
                for c in list(POLLA_LOGOS)[:3]:
                    po[c] = ol[c] * 2
            cyc = {"decision": kind, "sorteo": sorteo, "fecha": fecha.isoformat(),
                   "openloto": {c: v * 1_000_000 for c, v in ol.items()},
                   "polla": {c: v * 1_000_000 for c, v in po.items()},
                   "polla_total": sum(po.values()) * 1_000_000,
                   "pages": {"openloto": _openloto_page(ol, sorteo, fecha),
                             "polla": _polla_page(po, sorteo, fecha)}}
        out.append(cyc)
        prev = cyc
    return out


def write_pipeline(seed, n, out_dir):
    """Pages as `<out_dir>/cycle_<i>/<source>/page.html` (the `Main run
    --fixture-dir` layout) plus `expected.json`."""
    cycles = pipeline_cycles(seed, n)
    for i, c in enumerate(cycles):
        for src, html in c["pages"].items():
            d = os.path.join(out_dir, f"cycle_{i}", src)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "page.html"), "w", encoding="utf-8") as f:
                f.write(html)
    expected = [{k: v for k, v in c.items() if k != "pages"} for c in cycles]
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, ensure_ascii=False, indent=1)


# --- ingest stream -----------------------------------------------------------

def ingest_stream(seed, n_batches, batch_docs, copy_share=0.1, near_share=0.1):
    """Batches of `batch_docs` documents with fresh, increasing doc ids.
    After the first batch, `copy_share` of each batch are verbatim copies
    and `near_share` near-copies (" dup" appended) of earlier documents."""
    g = _rng(seed, "ingest")
    batches, seen, next_id = [], [], 0
    for b in range(n_batches):
        t = documents_table(g, batch_docs, first_id=next_id)
        texts = t.column("text").to_pylist()
        kinds = ["new"] * batch_docs
        if seen:
            for i in range(batch_docs):
                u = g.random()
                if u < copy_share:
                    texts[i], kinds[i] = seen[int(g.integers(0, len(seen)))], "copy"
                elif u < copy_share + near_share:
                    texts[i], kinds[i] = seen[int(g.integers(0, len(seen)))] + " dup", "near"
            t = t.set_column(1, "text", pa.array(texts, pa.string()))
            t = t.set_column(4, "n_chars", pa.array([len(x) for x in texts], pa.int64()))
        seen.extend(texts)
        next_id += batch_docs
        batches.append((t, kinds))
    return batches


def write_ingest(seed, n_batches, batch_docs, out_dir):
    """Batches as `<out_dir>/batch_<i>.parquet` plus `kinds.json`."""
    os.makedirs(out_dir, exist_ok=True)
    kinds = []
    for i, (t, k) in enumerate(ingest_stream(seed, n_batches, batch_docs)):
        pq.write_table(t, os.path.join(out_dir, f"batch_{i}.parquet"))
        kinds.append(k)
    with open(os.path.join(out_dir, "kinds.json"), "w") as f:
        json.dump(kinds, f)
