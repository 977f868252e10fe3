"""Seeded input generator for the benchmark workloads.

Everything here is plain Python (plus pyarrow for the parquet shards of the
curation workload): the program under test only ever sees the files this
module writes. Each generator also returns the truth the checks compare
against, computed from the same records, never from the program's output.

The same ``seed`` gives byte-identical files: no wall clock, no process id,
no set/dict-order dependence leaks into the bytes written.

Run ``python3 perfbench/gen.py --seed 7 --out /some/dir`` to write one
instance of every workload's inputs for inspection.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# transaction feeds (batch_load)

CURRENCIES = ("usd", "eur", "gbp", "cad")
MERCHANTS = ("Acme", "Globex", "Initech", "Umbrella", "Hooli", "Stark", "Wayne")


@dataclass
class Txn:
    """One transaction as the generator knows it (the truth side)."""

    client: str  # "ClientA" | "ClientC"
    fmt: str  # "XML" | "JSON" | "CSV"
    txn_id: str
    ts: str | None  # None or unparsable -> MISSING_REQUIRED
    amount: str | None
    currency: str
    customer: str
    account: str
    merchant: str
    # (line_number, item, description, qty, price, line_amount)
    lines: list[tuple[int, str, str, str, str, str]] = field(default_factory=list)
    drifted: bool = False

    def amount_value(self) -> float | None:
        try:
            return float(self.amount) if self.amount is not None else None
        except ValueError:
            return None

    def ts_valid(self) -> bool:
        return self.ts is not None and self.ts[:4].isdigit()

    def header_codes(self, dup_cnt: int) -> set[str]:
        codes = set()
        if dup_cnt > 1:
            codes.add("DUPLICATE_TXN")
        amt = self.amount_value()
        if not self.ts_valid() or amt is None:
            codes.add("MISSING_REQUIRED")
        if amt is not None and amt < 0:
            codes.add("NEGATIVE_AMOUNT")
        return codes

    def line_codes(self) -> set[tuple[str, int]]:
        out = set()
        for ln, _item, _desc, qty, _price, lamt in self.lines:
            if float(qty) < 0:
                out.add(("NEGATIVE_QTY", ln))
            elif float(lamt) < 0:
                out.add(("NEGATIVE_AMOUNT_LINE", ln))
        return out


def _money(rng: random.Random, lo: float = 1.0, hi: float = 900.0) -> str:
    return f"{rng.uniform(lo, hi):.2f}"


def _new_txn(rng: random.Random, client: str, fmt: str, seq: int, day: int) -> Txn:
    n_lines = 1 if fmt == "CSV" else rng.choice((1, 2, 2, 3))
    lines = []
    for ln in range(1, n_lines + 1):
        qty = rng.randint(1, 9)
        price = rng.uniform(1.0, 80.0)
        lines.append(
            (ln, f"SKU-{rng.randint(1, 400)}", f"item{rng.randint(1, 90)}",
             str(qty), f"{price:.2f}", f"{qty * price:.2f}")
        )
    return Txn(
        client=client,
        fmt=fmt,
        txn_id=f"{client[-1]}{fmt[0]}-{seq:07d}",
        ts=f"2026-{1 + day // 28:02d}-{1 + day % 28:02d}T{rng.randint(0, 23):02d}:"
        f"{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}",
        amount=_money(rng),
        currency=rng.choice(CURRENCIES),
        customer=f"CUST-{rng.randint(1, 300)}",
        account=f"ACC-{rng.randint(1, 60)}",
        merchant=rng.choice(MERCHANTS),
        lines=lines,
    )


def _restate(rng: random.Random, t: Txn) -> Txn:
    """Same business key, new amount (and a fresh, clean line)."""
    qty = rng.randint(1, 9)
    price = rng.uniform(1.0, 80.0)
    return Txn(
        client=t.client, fmt=t.fmt, txn_id=t.txn_id,
        ts=t.ts if t.ts_valid() else "2026-03-01T00:00:00",
        amount=_money(rng), currency=t.currency, customer=t.customer,
        account=t.account, merchant=t.merchant,
        lines=[(1, "SKU-1", "restated", str(qty), f"{price:.2f}", f"{qty * price:.2f}")],
    )


def _inject_defects(rng: random.Random, txns: list[Txn], rates: dict[str, int]) -> None:
    """Apply fixed COUNTS of defects to distinct transactions (the rate is
    fixed per drop, the victims are seeded)."""
    victims = rng.sample(range(len(txns)), sum(rates.values()))
    i = 0
    for kind, n in rates.items():
        for v in victims[i:i + n]:
            t = txns[v]
            if kind == "missing":
                if rng.random() < 0.5:
                    t.ts = None if t.fmt != "CSV" else "not-a-time"
                else:
                    t.amount = None if t.fmt != "CSV" else "n/a"
            elif kind == "negative":
                t.amount = "-" + t.amount
            elif kind == "neg_qty":
                ln, item, desc, qty, price, lamt = t.lines[0]
                t.lines[0] = (ln, item, desc, "-" + qty, price, lamt)
            elif kind == "neg_line":
                ln, item, desc, qty, price, lamt = t.lines[0]
                t.lines[0] = (ln, item, desc, qty, price, "-" + lamt)
            elif kind == "drift":
                t.drifted = True
        i += n


# -- renderers ---------------------------------------------------------------

def _json_obj(t: Txn) -> dict:
    if t.drifted:
        o = {"txn_id": t.txn_id, "transaction_time": t.ts, "ccy": t.currency,
             "amount": t.amount, "customerId": t.customer, "payee": t.merchant,
             "items": [{"line_number": ln, "sku": it, "name": d, "qty": q,
                        "price": p, "total": a} for ln, it, d, q, p, a in t.lines]}
    else:
        o = {"transaction_id": t.txn_id, "transaction_ts": t.ts,
             "currency": t.currency, "total_amount": t.amount,
             "customer_id": t.customer, "account_id": t.account,
             "merchant": t.merchant,
             "line_items": [{"line_number": ln, "item_id": it, "description": d,
                             "quantity": q, "unit_price": p, "line_amount": a}
                            for ln, it, d, q, p, a in t.lines]}
    return {k: v for k, v in o.items() if v is not None}


def _xml_txn(t: Txn) -> str:
    def el(tag: str, v: str | None) -> str:
        return "" if v is None else f"<{tag}>{v}</{tag}>"

    if t.drifted:
        head = (f"<transaction>{el('txn_id', t.txn_id)}{el('ccy', t.currency)}"
                f"{el('transaction_ts', t.ts)}{el('total', t.amount)}"
                f"<customer><id>{t.customer}</id></customer>{el('account_id', t.account)}"
                f"<merchant><name>{t.merchant}</name></merchant><items>")
        body = "".join(
            f"<item>{el('line_number', str(ln))}{el('sku', it)}{el('qty', q)}"
            f"{el('price', p)}{el('amount', a)}</item>"
            for ln, it, _d, q, p, a in t.lines)
        return head + body + "</items></transaction>"
    head = (f'<transaction transaction_id="{t.txn_id}">{el("transaction_ts", t.ts)}'
            f"{el('currency', t.currency)}{el('total_amount', t.amount)}"
            f"{el('customer_id', t.customer)}{el('account_id', t.account)}"
            f"{el('merchant', t.merchant)}<line_items>")
    body = "".join(
        f"<line>{el('line_number', str(ln))}{el('item_id', it)}{el('description', d)}"
        f"{el('quantity', q)}{el('unit_price', p)}{el('line_amount', a)}</line>"
        for ln, it, d, q, p, a in t.lines)
    return head + body + "</line_items></transaction>"


CSV_HEADER = (
    "source_txn_id,txn_timestamp,currency,total_amount,customer_id,account_id,"
    "merchant,item_id,description,quantity,unit_price,line_amount,line_currency"
)


def _csv_row(t: Txn) -> str:
    ln, it, d, q, p, a = t.lines[0]
    vals = [t.txn_id, t.ts, t.currency, t.amount, t.customer, t.account,
            t.merchant, it, d, q, p, a, ""]
    return ",".join("" if v is None else v for v in vals)


def _write(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


# -- batch_load ----------------------------------------------------------------

# transactions per format per drop, and the per-drop defect counts applied
# to each format's transactions (fixed counts; the seed picks the victims).
# Every drop has the same size, the runner's untimed warm-up drop 0 too.
DROP_TXNS = {"XML": 3000, "JSON": 3000, "CSV": 2500}  # CSV: per client file
DROP_DEFECTS = {"missing": 3, "negative": 3, "neg_qty": 2, "neg_line": 2, "drift": 4}
DROP_DUPLICATES = 2  # identical in-file re-sends per format per drop
DROP_RESTATEMENTS = 4  # keys from earlier drops re-sent with a new amount


@dataclass
class Drop:
    """One tri-format feed drop: files relative to the ingest root, plus the
    truth for the warehouse state AFTER this drop is loaded."""

    files: dict[str, bytes]  # rel path -> content
    records: int  # input records (txn rows + malformed files)
    audit: dict[str, tuple[str, int]]  # basename -> (status, rows_loaded)
    keys: list[tuple[str, str]]  # cumulative canonical (client, source_txn_id)
    anomalies: dict[str, int]  # cumulative anomaly rows by code

    @property
    def nbytes(self) -> int:
        return sum(len(b) for b in self.files.values())


def batch_drops(seed: int, n_drops: int) -> list[Drop]:
    """The first ``n_drops`` drops of ``iter_drops(seed)``."""
    return list(itertools.islice(iter_drops(seed), n_drops))


def iter_drops(seed: int) -> Iterator[Drop]:
    """The feed drops of one ``batch_load`` run, in landing order, without
    end (each is made when asked for).

    Each drop holds, per client: ClientA one XML document + one CSV file
    (one ragged row), ClientC one JSON array file + one CSV file, plus one
    malformed JSON file. Cumulative truth mirrors the pipeline's semantics:
    every run re-ranks ALL raw history per (client, source_txn_id) (latest
    drop wins, any repeat flags DUPLICATE_TXN), and the anomaly table is a
    keyed upsert, so flags once raised stay.
    """
    rng = random.Random(f"batch:{seed}")
    history: dict[tuple[str, str], list[tuple[int, Txn]]] = {}
    anomaly_rows: set[tuple] = set()
    seq = 0
    for d in itertools.count():
        files: dict[str, bytes] = {}
        audit: dict[str, tuple[str, int]] = {}
        landed: list[Txn] = []
        records = 0
        per_fmt: dict[tuple[str, str], list[Txn]] = {}
        for client, fmt in (("ClientA", "XML"), ("ClientC", "JSON"),
                            ("ClientA", "CSV"), ("ClientC", "CSV")):
            txns = []
            for _ in range(DROP_TXNS[fmt]):
                seq += 1
                txns.append(_new_txn(rng, client, fmt, seq, d))
            _inject_defects(rng, txns, DROP_DEFECTS if fmt != "CSV" else
                            {k: v for k, v in DROP_DEFECTS.items() if k != "drift"})
            earlier = sorted(k for k in history if k[0] == client
                             and history[k][-1][1].fmt == fmt)
            for key in rng.sample(earlier, min(DROP_RESTATEMENTS, len(earlier))):
                txns.append(_restate(rng, history[key][-1][1]))
            for v in rng.sample(range(len(txns)), DROP_DUPLICATES):
                txns.append(txns[v])  # identical re-send -> DUPLICATE_TXN
            rng.shuffle(txns)
            per_fmt[(client, fmt)] = txns
        tag = f"d{d:03d}"
        xml = per_fmt[("ClientA", "XML")]
        files[f"client_a/xml/{tag}.xml"] = (
            "<transactions>" + "".join(_xml_txn(t) for t in xml) + "</transactions>\n"
        ).encode()
        audit[f"{tag}.xml"] = ("LOADED", len(xml))
        js = per_fmt[("ClientC", "JSON")]
        files[f"client_c/json/{tag}.json"] = (
            json.dumps([_json_obj(t) for t in js], separators=(",", ":")) + "\n"
        ).encode()
        audit[f"{tag}.json"] = ("LOADED", len(js))
        files[f"client_c/json/{tag}_bad.json"] = (
            '{"transaction_id": "BAD-%s", unquoted: oops\n' % tag
        ).encode()
        audit[f"{tag}_bad.json"] = ("LOAD_FAILED", 0)
        for client, sub in (("ClientA", "client_a"), ("ClientC", "client_c")):
            rows = per_fmt[(client, "CSV")]
            lines = [CSV_HEADER] + [_csv_row(t) for t in rows]
            name = f"{tag}_{sub[-1]}.csv"
            if client == "ClientA":
                lines.append(f"RAGGED-{tag},2026-01-15T16:00:00,gbp")
                audit[name] = ("PARTIALLY_LOADED", len(rows))
                records += 1
            else:
                audit[name] = ("LOADED", len(rows))
            files[f"{sub}/csv/{name}"] = ("\n".join(lines) + "\n").encode()
        records += 1  # the malformed JSON file
        for txns in per_fmt.values():
            landed.extend(txns)
            records += len(txns)
        for t in landed:
            history.setdefault((t.client, t.txn_id), []).append((d, t))
        # re-rank all history: the run_batch full-history transform
        for key, versions in history.items():
            survivor = versions[-1][1]
            for code in survivor.header_codes(len(versions)):
                anomaly_rows.add((key, code, None))
            for code, ln in survivor.line_codes():
                anomaly_rows.add((key, code, ln))
        yield Drop(
            files=files,
            records=records,
            audit=audit,
            keys=sorted(history),
            anomalies=dict(sorted(Counter(r[1] for r in anomaly_rows).items())),
        )


# -- corpus_curation -----------------------------------------------------------

# English-looking vocabulary: common content words plus the English stopwords
# the language gate counts; no Spanish/German stopwords, so every generated
# document passes the quality and language gates
_STOP = ("the", "a", "of", "and", "to", "in", "is")
_WORDS = tuple(
    w + s
    for w in ("market", "ledger", "account", "invoice", "payment", "balance",
              "credit", "order", "supply", "report", "quarter", "revenue",
              "client", "vendor", "asset", "budget", "profit", "policy",
              "trade", "price", "rate", "fund", "share", "value", "risk",
              "cash", "bank", "loan", "bond", "stock", "audit", "tax",
              "record", "entry", "period", "region", "branch", "product",
              "service", "contract")
    for s in ("", "s", "ed", "ing", "ly")
)
DOC_WORDS = 110  # tokens per document (long enough for stable MinHash recall)
SHARD_DOCS = 1280  # every shard, the runner's untimed warm-up shard 0 too
SHARD_EXACT_DUPS = 64  # verbatim copies of earlier documents
SHARD_TWINS = 16  # one-word edits of earlier documents (+ near-copy embeddings)
EMB_DIM = 32
N_CENTROIDS = 16
QUERIES_PER_OP = 32  # fixed query batch: the shard's twins, then other docs
N_PROBE = 4
NEAR_DUP_RECALL_FLOOR = 0.75


@dataclass
class DocShard:
    ids: list[int]
    texts: list[str]
    embeddings: list[list[float]]
    twins: list[tuple[int, int]]  # (original id, twin id)
    queries: list[int]  # ids whose embeddings form this op's query batch
    distinct_in_shard: int  # curate_and_export's exact-dedup survivors
    distinct_total: int  # corpus-wide exact survivors after this shard
    docs_total: int


def centroids(seed: int) -> list[list[float]]:
    rng = random.Random(f"centroids:{seed}")
    return [[rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(N_CENTROIDS)]


def doc_shards(seed: int, n_shards: int) -> list[DocShard]:
    """The first ``n_shards`` shards of ``iter_doc_shards(seed)``."""
    return list(itertools.islice(iter_doc_shards(seed), n_shards))


def iter_doc_shards(seed: int) -> Iterator[DocShard]:
    """The document shards of one ``corpus_curation`` run, in landing
    order, without end (each is made when asked for)."""
    rng = random.Random(f"corpus:{seed}")
    cents = centroids(seed)
    originals: list[tuple[int, str, list[float]]] = []
    twinned: set[int] = set()  # each original gets at most one twin
    seen_texts: set[str] = set()
    next_id = 1
    docs_total = 0
    while True:
        ids, texts, embs, twins = [], [], [], []
        n_new = SHARD_DOCS - SHARD_EXACT_DUPS - SHARD_TWINS
        for _ in range(n_new):
            words = [rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_WORDS)
                     for _ in range(DOC_WORDS)]
            c = cents[rng.randrange(N_CENTROIDS)]
            emb = [x + rng.gauss(0.0, 0.35) for x in c]
            ids.append(next_id)
            texts.append(" ".join(words))
            embs.append(emb)
            originals.append((next_id, texts[-1], emb))
            next_id += 1
        # injected duplicates draw only from documents generated as new
        # (never from earlier copies), so the truth stays pairwise
        for _ in range(SHARD_EXACT_DUPS):
            _oid, text, emb = rng.choice(originals)
            c = cents[rng.randrange(N_CENTROIDS)]
            ids.append(next_id)
            texts.append(text)
            embs.append([x + rng.gauss(0.0, 0.35) for x in c])
            next_id += 1
        pool = [o for o in originals if o[0] not in twinned]
        for oid, text, emb in rng.sample(pool, SHARD_TWINS):
            twinned.add(oid)
            words = text.split(" ")
            pos = rng.randrange(5, DOC_WORDS - 5)
            words[pos] = "zz" + words[pos]  # a token no document otherwise has
            ids.append(next_id)
            texts.append(" ".join(words))
            embs.append([x + rng.gauss(0.0, 1e-3) for x in emb])
            twins.append((oid, next_id))
            next_id += 1
        order = list(range(len(ids)))
        rng.shuffle(order)
        ids = [ids[i] for i in order]
        texts = [texts[i] for i in order]
        embs = [embs[i] for i in order]
        seen_texts.update(texts)
        docs_total += len(ids)
        twin_ids = {b for _a, b in twins}
        others = [i for i in ids if i not in twin_ids]
        queries = sorted(twin_ids) + others[: QUERIES_PER_OP - len(twin_ids)]
        yield DocShard(
            ids=ids, texts=texts, embeddings=embs, twins=sorted(twins),
            queries=queries, distinct_in_shard=len(set(texts)),
            distinct_total=len(seen_texts), docs_total=docs_total,
        )


def write_doc_shard(shard: DocShard, doc_path: str, emb_path: str) -> int:
    """Write the document and embedding parquet files; returns their bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table({"doc_id": pa.array(shard.ids, pa.int64()),
                     "text": pa.array(shard.texts, pa.string())})
    embs = pa.table({"vec_id": pa.array(shard.ids, pa.int64()),
                     "embedding": pa.array(shard.embeddings, pa.list_(pa.float64()))})
    for table, path in ((docs, doc_path), (embs, emb_path)):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, compression="snappy")
    return os.path.getsize(doc_path) + os.path.getsize(emb_path)


def write_centroids(seed: int, path: str) -> None:
    """The IVF centroid table: ``(vec_id, embedding)`` per centroid."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cents = centroids(seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(cents)), pa.int64()),
        "embedding": pa.array(cents, pa.list_(pa.float64()))}), path)


def write_all(seed: int, out: str, n_ops: int = 3) -> None:
    """Write one instance of every workload's inputs under ``out``."""
    for d, drop in enumerate(batch_drops(seed, n_ops)):
        for rel, data in drop.files.items():
            _write(os.path.join(out, "batch", f"drop{d:03d}", rel), data.decode())
    for k, shard in enumerate(doc_shards(seed, n_ops)):
        write_doc_shard(shard, os.path.join(out, "corpus", f"docs{k:03d}.parquet"),
                        os.path.join(out, "corpus", f"emb{k:03d}.parquet"))


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ops", type=int, default=3)
    a = ap.parse_args()
    write_all(a.seed, a.out, a.ops)
