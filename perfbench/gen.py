"""Seeded input generators for the benchmark.

corpus(): the `documents` / `embeddings` tables the gate workloads read,
in the same schema and shape as the sf0.1 testdata: 30-word vocabulary,
5% near-duplicates (a copy of another document plus " dup"), a few exact
duplicates, 64-dimensional unit vectors with ten labels. The gate
results are pinned in expected.json, so the corpus uses a fixed seed;
the workload seed only orders the operations.

ledger(): a Hogia ledger as a parquet mirror (one directory per table,
the layout graft.sources.ParquetTableIO reads). It carries the cases the
round trip must survive: cp1252 text with the euro sign and Swedish
letters, NULL Kontrollnr, DECIMAL(19,4) extremes inside both codecs'
exact ranges, and keys unique under the Jet writer's case-folded unique
indexes. No text value is NULL or empty: the Jet row format stores an
interior NULL text as '' and reads empty text back as NULL.
"""
import decimal
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101
VOCAB = ("a the data spark window merge table column vector stream value "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def corpus(out_dir, n_docs=5000, n_vecs=2000, seed=CORPUS_SEED):
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(8, 100))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    # near-duplicates: 5% of the rows copy another row and append " dup"
    ids = rng.permutation(n_docs)
    n_near = n_docs // 20
    for dst, src in zip(ids[:n_near], ids[n_near:2 * n_near]):
        texts[dst] = texts[src] + " dup"
    # exact duplicates: 0.2% of the rows copy another row verbatim
    n_exact = max(1, n_docs // 500)
    for dst, src in zip(ids[2 * n_near:2 * n_near + n_exact],
                        ids[2 * n_near + n_exact:2 * n_near + 2 * n_exact]):
        texts[dst] = texts[src]
    p = [0.41] + [0.59 / 4] * 4
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=p)]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


# --- ledger -----------------------------------------------------------------

MONEY = pa.decimal128(19, 4)
# inside Jet CURRENCY (int64 of 1e-4 units) and the SQLite codec's exact
# range (integers up to 18 digits, fractions up to 15 significant digits)
MONEY_EDGES = ["922337203685477.0000", "-922337203685477.0000",
               "99999999999.9999", "-99999999999.9999", "0.0001",
               "-0.0001", "0.0000", "-1234567.8901"]
WORDS = ["Hyra", "Matvaror", "Lön", "Café", "Räkning", "Över", "Året",
         "Båt", "Bränsle", "Tåg", "Försäkring", "Städning", "El", "Öl"]
MARKS = ["€", "åäö", "ÅÄÖ", "é", "‰", "Š", "œ", "“citat”", "–", "ü"]
D = decimal.Decimal


def _text(r, n_words, limit):
    s = " ".join(r.choice(WORDS) for _ in range(n_words)) + " " + r.choice(MARKS)
    return s[:limit]


def _money(r, edge_rate=0.01):
    if r.random() < edge_rate:
        return D(r.choice(MONEY_EDGES))
    return D(r.randint(-10_000_000, 10_000_000)).scaleb(-2).quantize(D("0.0001"))


def _date(r):
    return f"{r.randint(1995, 2024):04d}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _write(root, name, cols):
    t = pa.table({k: pa.array(v, ty) for k, (ty, v) in cols.items()})
    os.makedirs(os.path.join(root, name), exist_ok=True)
    pq.write_table(t, os.path.join(root, name, "part-00000.parquet"))
    return t.num_rows


def ledger(root, seed, n_tx=25_000):
    """Writes the ten Hogia tables; returns {table: rows}."""
    r = random.Random(seed)
    s, i64, i32, i16, f32, b = (pa.string(), pa.int64(), pa.int32(),
                                pa.int16(), pa.float32(), pa.bool_())
    accounts = [f"Konto {i} {r.choice(WORDS)}" for i in range(40)]
    places = [f"Plats {i} {r.choice(WORDS)}" for i in range(200)]
    people = [f"Person {i} {r.choice(MARKS)}" for i in range(6)]
    loans = [f"Lån {i}" for i in range(20)]
    rows = {}
    rows["DtbVer"] = _write(root, "DtbVer", {
        "VerNum": (s, ["2.0"]), "Benämning": (s, ["Hogia Hemekonomi € åäö"]),
        "Losenord": (s, ["lösen€"])})
    rows["Platser"] = _write(root, "Platser", {
        "Löpnr": (i64, list(range(1, len(places) + 1))), "Namn": (s, places),
        "Gironummer": (s, [f"{r.randint(1000, 99999)}-{r.randint(0, 9)}" for _ in places]),
        "Typ": (s, [r.choice(["0", "1"]) for _ in places]),
        "RefKonto": (s, [r.choice(accounts) for _ in places])})
    rows["Personer"] = _write(root, "Personer", {
        "Löpnr": (i64, list(range(1, len(people) + 1))), "Namn": (s, people),
        "Född": (s, [str(r.randint(1940, 2015)) for _ in people]),
        "Kön": (s, [r.choice(["Man", "Kvinna"]) for _ in people])})
    rows["Konton"] = _write(root, "Konton", {
        "Löpnr": (i64, list(range(1, len(accounts) + 1))),
        "KontoNummer": (s, [f"{r.randint(1000, 9999)}-{i}" for i in range(len(accounts))]),
        "Benämning": (s, accounts),
        "Saldo": (MONEY, [_money(r, 0.3) for _ in accounts]),
        "StartSaldo": (MONEY, [_money(r, 0.3) for _ in accounts]),
        "StartManad": (s, [_date(r)[:7] for _ in accounts]),
        "SaldoArsskifte": (MONEY, [None if i % 7 == 0 else _money(r, 0.3)
                                   for i in range(len(accounts))]),
        "ArsskifteManad": (s, [_date(r)[:7] for _ in accounts])})
    bk = [f"Betalkonto {i} {r.choice(WORDS)}" for i in range(10)]
    rows["BetalKonton"] = _write(root, "BetalKonton", {
        "Löpnr": (i64, list(range(1, len(bk) + 1))), "Konto": (s, bk),
        "Kontonummer": (s, [str(r.randint(10**8, 10**9)) for _ in bk]),
        "Kundnummer": (s, [str(r.randint(10**5, 10**6)) for _ in bk]),
        "Sigillnummer": (s, [str(r.randint(10**3, 10**4)) for _ in bk])})
    n = 300
    rows["Överföringar"] = _write(root, "Överföringar", {
        "Löpnr": (i64, list(range(1, n + 1))),
        "FrånKonto": (s, [r.choice(accounts) for _ in range(n)]),
        "TillKonto": (s, [r.choice(accounts) for _ in range(n)]),
        "Belopp": (MONEY, [_money(r, 0.05) for _ in range(n)]),
        "Datum": (s, [_date(r) for _ in range(n)]),
        "HurOfta": (s, [r.choice(["Varje månad", "Varje år", "En gång"]) for _ in range(n)]),
        "Vad": (s, [_text(r, 2, 40) for _ in range(n)]),
        "Vem": (s, [r.choice(people) for _ in range(n)]),
        "Kontrollnr": (i32, [None if r.random() < 0.3 else r.randint(0, 10**6) for _ in range(n)]),
        "TillDatum": (s, [_date(r) for _ in range(n)]),
        "Rakning": (s, [r.choice(["J", "N"]) for _ in range(n)])})
    n = 500
    rows["Betalningar"] = _write(root, "Betalningar", {
        "Löpnr": (i64, list(range(1, n + 1))),
        "FrånKonto": (s, [r.choice(accounts) for _ in range(n)]),
        "TillPlats": (s, [r.choice(places) for _ in range(n)]),
        "Typ": (s, [r.choice(["Räkning", "Autogiro", "Lån"]) for _ in range(n)]),
        "Datum": (s, [_date(r) for _ in range(n)]),
        "Vad": (s, [_text(r, 2, 40) for _ in range(n)]),
        "Vem": (s, [r.choice(people) for _ in range(n)]),
        "Belopp": (MONEY, [_money(r, 0.05) for _ in range(n)]),
        "Text": (s, [_text(r, 4, 60) for _ in range(n)]),
        "Ranta": (MONEY, [_money(r) for _ in range(n)]),
        "FastAmort": (MONEY, [_money(r) for _ in range(n)]),
        "RorligAmort": (MONEY, [_money(r) for _ in range(n)]),
        "OvrUtg": (MONEY, [None if r.random() < 0.2 else _money(r) for _ in range(n)]),
        "LanLopnr": (i32, [None if r.random() < 0.5 else r.randint(1, len(loans)) for _ in range(n)]),
        "Grey": (s, [r.choice(["0", "1"]) for _ in range(n)])})
    rows["LÅN"] = _write(root, "LÅN", {
        "Löpnr": (i64, list(range(1, len(loans) + 1))),
        "Langivare": (s, [r.choice(["Banken", "Föreningen", "Sparbanken"]) for _ in loans]),
        "EgenBeskrivn": (s, [_text(r, 2, 40) for _ in loans]),
        "LanNummer": (s, [f"L-{r.randint(10**6, 10**7)}" for _ in loans]),
        "TotLanebelopp": (MONEY, [_money(r, 0.3) for _ in loans]),
        "StartDatum": (s, [_date(r) for _ in loans]),
        "RegDatum": (s, [_date(r) for _ in loans]),
        "RantJustDatum": (s, [_date(r) for _ in loans]),
        "SlutBetDatum": (s, [_date(r) for _ in loans]),
        "AktLaneskuld": (MONEY, [_money(r, 0.3) for _ in loans]),
        "RorligDel": (MONEY, [_money(r) for _ in loans]),
        "FastDel": (MONEY, [_money(r) for _ in loans]),
        "FastRanta": (f32, [r.randint(0, 800) / 100 for _ in loans]),
        "RorligRanta": (f32, [r.randint(0, 800) / 100 for _ in loans]),
        "HurOfta": (s, [r.choice(["1", "3", "12"]) for _ in loans]),
        "Ranta": (MONEY, [_money(r) for _ in loans]),
        "FastAmort": (MONEY, [_money(r) for _ in loans]),
        "RorligAmort": (MONEY, [_money(r) for _ in loans]),
        "OvrUtg": (MONEY, [_money(r) for _ in loans]),
        "Rakning": (s, [r.choice(["J", "N"]) for _ in loans]),
        "Vem": (s, [r.choice(people) for _ in loans]),
        "FrånKonto": (s, [r.choice(accounts) for _ in loans]),
        "Grey": (s, [r.choice(["0", "1"]) for _ in loans]),
        "Anteckningar": (s, [_text(r, r.randint(5, 60), 600) for _ in loans]),
        "BudgetRanta": (s, [r.choice(accounts) for _ in loans]),
        "BudgetAmort": (s, [r.choice(accounts) for _ in loans]),
        "BudgetOvriga": (s, [r.choice(accounts) for _ in loans])})
    budget_types = [f"Budget {i} {r.choice(WORDS)}" for i in range(30)]
    months = ["Jan", "Feb", "Mar", "Apr", "Maj", "Jun",
              "Jul", "Aug", "Sep", "Okt", "Nov", "Dec"]
    cols = {
        "Löpnr": (i64, list(range(1, len(budget_types) + 1))),
        "Typ": (s, budget_types),
        "Inkomst": (s, [r.choice(["J", "N"]) for _ in budget_types]),
        "HurOfta": (i16, [r.randint(0, 12) for _ in budget_types]),
        "StartMånad": (s, [_date(r)[:7] for _ in budget_types])}
    for m in months:
        cols[m] = (MONEY, [_money(r, 0.1) for _ in budget_types])
    cols["Kontrollnr"] = (i32, [None if r.random() < 0.5 else r.randint(0, 999)
                                for _ in budget_types])
    rows["Budget"] = _write(root, "Budget", cols)
    rows["Transaktioner"] = _write(root, "Transaktioner", {
        "Löpnr": (i64, list(range(1, n_tx + 1))),
        "FrånKonto": (s, [r.choice(accounts) for _ in range(n_tx)]),
        "TillKonto": (s, [r.choice(accounts) for _ in range(n_tx)]),
        "Typ": (s, [r.choice(["Inköp", "Insättning", "Uttag", "Överföring"]) for _ in range(n_tx)]),
        "Datum": (s, [_date(r) for _ in range(n_tx)]),
        "Vad": (s, [_text(r, 2, 40) for _ in range(n_tx)]),
        "Vem": (s, [r.choice(people) for _ in range(n_tx)]),
        "Belopp": (MONEY, [_money(r) for _ in range(n_tx)]),
        "Saldo": (MONEY, [_money(r) for _ in range(n_tx)]),
        "Fastöverföring": (b, [r.random() < 0.1 for _ in range(n_tx)]),
        "Text": (s, [_text(r, 3, 60) for _ in range(n_tx)])})
    return rows
