"""Seeded input generators for the two benchmark workloads.

Every generator takes (out_dir, seed, scale) and writes the files the
engine reads, plus a `manifest.json` with row counts, planted shares and
skew settings. The same seed always yields byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------------- shared

ALPHABETS = {
    "fr": "abcdefghijlmnopqrstuvéèàç",
    "en": "abcdefghijklmnoprstuvwy",
    "de": "abcdefghiklmnoprstuwzäöü",
    "ru": "абвгдежзиклмнопрстуфхцчшы",
    "el": "αβγδεζηθικλμνξοπρστυφχψω",
}
LANGS = list(ALPHABETS)


def _words(rng, alphabet, n):
    """n distinct lowercase words of 3-8 letters from `alphabet`."""
    out, seen = [], set()
    letters = list(alphabet)
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class Vocab:
    """Per-language word lists with Zipf-like frequencies."""

    def __init__(self, rng, size=2500):
        self.words = {l: _words(rng, ALPHABETS[l], size) for l in LANGS}
        p = 1.0 / np.arange(1, size + 1) ** 1.05
        self.p = p / p.sum()

    def draw(self, rng, lang, n):
        idx = rng.choice(len(self.p), size=n, p=self.p)
        ws = self.words[lang]
        return [ws[i] for i in idx]


def jaccard(a, b):
    sa, sb = set(a.split()), set(b.split())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def _write_parquet(path, table):
    pq.write_table(table, path, compression="snappy")


def _manifest(out_dir, m):
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


def _sizes(base, scale):
    return {k: max(8, int(v * scale)) for k, v in base.items()}


# ------------------------------------------------------------ etl_nightly

ETL_BASE = dict(etab=16000, inst=48000, rub=1600, gerep=12000, company_od=24000, anon=1200,
                orders=24000, events=80000, users=3200, order_changes=4800, cust_changes=12000)

# Every share below is an assumption, not a measurement: the reference
# publishes no registry data (perfbench/README.md, "Input assumptions").
ETL_SHARES = dict(
    siret_valid=0.55,        # raw s3icNumeroSiret that is a valid 14-digit SIRET
    siret_short=0.25,        # raw SIRET truncated to the 9-digit SIREN
    # remainder is null
    gerep_cover=0.45,        # etablissements with a GEREP row
    company_cover=0.40,      # etablissements with a Company row
    common_name_share=0.08,  # etablissements carrying a shared name (fan-out skew)
    common_names=400,        # size of that pool; carriers per name ~ Zipf(1.2)
    max_name_repeat=25,      # cap on etablissements per shared name (bounds join fan-out)
    unknown_code_share=0.02, # installations whose codeS3ic matches no etablissement
)


def _dmy(days):
    """Day-first dates without zero padding (d/M/yyyy) from epoch days."""
    d = np.datetime64("1970-01-01") + days.astype("timedelta64[D]")
    ys = d.astype("datetime64[Y]").astype(int) + 1970
    ms = d.astype("datetime64[M]").astype(int) % 12 + 1
    ds = (d - d.astype("datetime64[M]")).astype(int) + 1
    return [f"{a}/{b}/{c}" for a, b, c in zip(ds, ms, ys)]


def gen_etl(out, seed, scale):
    rng = np.random.default_rng(seed)
    n = _sizes(ETL_BASE, scale)
    sh = ETL_SHARES
    os.makedirs(out, exist_ok=True)

    # --- ICPE etablissements (24 cols, ';' headerless, day-first dates)
    ne = n["etab"]
    core = [f"{100000000 + i:09d}" for i in range(ne)]
    codes = ["0" + c for c in core]
    true_siret = [f"{s:014d}" for s in rng.integers(10**13, 10**14 - 1, size=ne)]
    kind = rng.random(ne)
    raw_siret = [t if k < sh["siret_valid"] else
                 (t[:9] if k < sh["siret_valid"] + sh["siret_short"] else "")
                 for t, k in zip(true_siret, kind)]
    # shared names: name i is carried by ~k/i^1.2 etablissements (capped).
    # The sizes do not depend on the seed, only who carries them does, so
    # the join fan-out — the pass's largest cost — is the same every seed.
    names = [f"ets{i:06d}" for i in range(ne)]
    k = int(ne * sh["common_name_share"])
    w = 1.0 / np.arange(1, sh["common_names"] + 1) ** 1.2
    sizes = np.minimum(sh["max_name_repeat"], np.maximum(1, (k * w / w.sum()).astype(int)))
    carriers = iter(rng.permutation(ne))
    shared = []  # etablissement indices per shared name
    for i, m in enumerate(sizes):
        group = [next(carriers) for _ in range(m)]
        for e in group:
            names[e] = f"societe{i:04d}"
        shared.append(group)
    seveso = np.array(["S", "NS", "SB", "SH", "H", "B", "", "ZZ"])[rng.integers(0, 8, ne)]
    regime = np.array(["A", "E", "D", "DC", "NC", "", "XX"])[rng.integers(0, 7, ne)]
    famille = np.array(["IN", "BO", "PO", "VO", "CA", "", "QQ"])[rng.integers(0, 7, ne)]
    cp = [f"{x:05d}" for x in rng.integers(1000, 96000, ne)]
    insp = _dmy(rng.integers(16000, 19500, ne))
    with open(os.path.join(out, "IC_etablissement.csv"), "w") as f:
        for i in range(ne):
            row = [codes[i], raw_siret[i], "1.5", "2.5", "11", names[i], "75111", cp[i],
                   "En fonctionnement", "3821Z", "COMMUNE" + cp[i][:2], seveso[i], regime[i],
                   "0", "0", "1", famille[i], "1", "DREAL", f"{i} RUE A", "", insp[i], "", "", "1"]
            f.write(";".join(row) + "\n")

    # --- installations (3 per etablissement, some dangling codes)
    ni = n["inst"]
    owner = rng.permutation(np.resize(np.arange(ne), ni))
    dangling = rng.random(ni) < sh["unknown_code_share"]
    nr = n["rub"]
    rub_ref = rng.integers(0, int(nr * 1.05), ni)  # ~5% reference no rubrique
    vol = rng.integers(1, 100000, ni)
    d1 = _dmy(rng.integers(12000, 19000, ni))
    d2 = _dmy(rng.integers(19000, 21000, ni))
    has_d1 = rng.random(ni) < 0.8
    has_d2 = rng.random(ni) < 0.4
    with open(os.path.join(out, "IC_installation_classee.csv"), "w") as f:
        for j in range(ni):
            code = f"9{j:09d}" if dangling[j] else codes[owner[j]]
            f.write(f"{code};I{j};{vol[j] / 100:.2f};t;{d1[j] if has_d1[j] else ''};"
                    f"{d2[j] if has_d2[j] else ''};actif;R{rub_ref[j]}\n")

    # --- rubriques nomenclature
    td = ["2710", "2712", "2718", "2770", "2790", "2792", "2793", "2795", "2797",
          "2798", "2720", "2760", "2750", "2711", "1234", "1510", "2910", "3110"]
    with open(os.path.join(out, "IC_ref_nomenclature_ic.csv"), "w") as f:
        for r in range(nr):
            rub = td[int(rng.integers(0, len(td)))]
            al = ["", "1", "2", "3", "4"][int(rng.integers(0, 5))]
            f.write(f"R{r};{rub};D;;;{al};activite {r};A;1;0\n")

    # --- GEREP (headered, ','): 1-3 yearly rows per covered code
    ng = n["gerep"]
    gcodes = rng.choice(ne, size=min(ng, int(ne * sh["gerep_cover"])), replace=False)
    with open(os.path.join(out, "gerep.csv"), "w") as f:
        f.write("Code établissement,Numero Siret,Annee\n")
        for c in gcodes:
            years = sorted(rng.choice(np.arange(2015, 2022), size=int(rng.integers(1, 4)),
                                      replace=False))
            for y in years:
                good = rng.random() < 0.85
                s = true_siret[c] if good else true_siret[c][:9]
                f.write(f"{core[c]},{s},{y}\n")

    # --- Company (siretisation side): one row per covered etablissement,
    # keyed by NAME, so shared names fan out in the join. Each shared name
    # is covered for the same share of its carriers on every seed.
    in_shared = {e for g in shared for e in g}
    cover = sh["company_cover"]
    cc = [e for g in shared for e in rng.permutation(g)[:int(round(cover * len(g)))]]
    rest = np.array([e for e in range(ne) if e not in in_shared])
    cc += list(rng.choice(rest, size=int(cover * len(rest)), replace=False))
    ncmp = len(cc)
    csir = [true_siret[c] if rng.random() < 0.9 else true_siret[c][:10] for c in cc]
    _write_parquet(os.path.join(out, "company.parquet"), pa.table({
        "siret": csir,
        "nom": [names[c] for c in cc],
        "address": [f"{c} RUE B {cp[c]} VILLE" for c in cc]}))

    # --- Company (open-data side) + AnonymousCompany
    no = n["company_od"]
    od_siret = [f"{s:014d}" for s in rng.choice(10**9, size=no, replace=False) + 31 * 10**12]
    types = np.array(["{PRODUCER}", "{PRODUCER,TRANSPORTER}", "{TRANSPORTER}",
                      "{WASTEPROCESSOR}"])[rng.integers(0, 4, no)]
    status = np.array(["VERIFIED", "TO_BE_VERIFIED", "STANDBY"])[rng.integers(0, 3, no)]
    _write_parquet(os.path.join(out, "company_od.parquet"), pa.table({
        "siret": od_siret,
        "date_inscription": pa.array(rng.integers(17000, 19500, no).astype("int32"),
                                     type=pa.int32()).cast(pa.date32()),
        "companyTypes": types,
        "nom": [f"entreprise {i}" for i in range(no)],
        "verificationStatus": status}))
    na = n["anon"]
    anon = [od_siret[i] for i in rng.integers(0, no, na // 2)] + \
           [f"{s:014d}" for s in rng.integers(10**13, 2 * 10**13, na - na // 2)]
    _write_parquet(os.path.join(out, "anonymous.parquet"), pa.table({"siret": anon}))

    # --- TPC-H-shaped orders / lineitem, events, change logs
    nord, nu = n["orders"], n["users"]
    day0 = 19000
    ndays = 30
    okeys = np.arange(1, nord + 1, dtype=np.int64) * 4
    ocust = rng.integers(1, nu + 1, nord).astype(np.int64)
    odate = (day0 + rng.integers(0, ndays, nord)).astype("int32")
    oprice = rng.integers(100, 5000000, nord) / 100.0
    ostat = np.array(["O", "F", "P"])[rng.integers(0, 3, nord)]
    _write_parquet(os.path.join(out, "orders.parquet"), pa.table({
        "o_orderkey": okeys, "o_custkey": ocust,
        "o_orderstatus": ostat, "o_totalprice": oprice,
        "o_orderdate": pa.array(odate, type=pa.int32()).cast(pa.date32())}))
    lines = rng.integers(1, 8, nord)
    lk = np.repeat(okeys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    nl = len(lk)
    _write_parquet(os.path.join(out, "lineitem.parquet"), pa.table({
        "l_orderkey": lk, "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": rng.integers(100, 10000000, nl) / 100.0,
        "l_shipdate": pa.array((np.repeat(odate, lines) + rng.integers(1, 120, nl))
                               .astype("int32"), type=pa.int32()).cast(pa.date32())}))

    # events: bursty per-user sessions; ts unique (µs slot = event_id)
    nev = n["events"]
    sess_user, sess_start, sess_len = [], [], []
    total = 0
    while total < nev:
        k = int(min(rng.integers(1, 16), nev - total))
        sess_user.append(int(rng.integers(1, nu + 1)))
        sess_start.append(int(day0 * 86400 + rng.integers(0, ndays * 86400)))
        sess_len.append(k)
        total += k
    users = np.repeat(np.array(sess_user, dtype=np.int64), sess_len)
    secs = np.concatenate([s + np.cumsum(rng.integers(5, 300, k))
                           for s, k in zip(sess_start, sess_len)])
    eid = np.arange(nev, dtype=np.int64)
    ts_us = secs.astype(np.int64) * 1_000_000 + eid
    perm = rng.permutation(nev)
    etype = np.array(["view", "click", "cart", "purchase"])[rng.integers(0, 4, nev)]
    _write_parquet(os.path.join(out, "events.parquet"), pa.table({
        "event_id": eid[perm],
        "ts": pa.array(ts_us[perm], type=pa.timestamp("us", tz="UTC")),
        "user_id": users[perm], "event_type": etype[perm],
        "value": (rng.integers(0, 100000, nev) / 100.0)[perm]}))

    # order change log for mergeUpsert: unique (key, version)
    nch = n["order_changes"]
    ck = rng.choice(okeys, size=nch)
    order = np.argsort(ck, kind="stable")
    ck = ck[order]
    ver = np.ones(nch, dtype=np.int64)
    for i in range(1, nch):
        if ck[i] == ck[i - 1]:
            ver[i] = ver[i - 1] + 1
    _write_parquet(os.path.join(out, "order_changes.parquet"), pa.table({
        "o_orderkey": ck,
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, nch)],
        "o_totalprice": rng.integers(100, 5000000, nch) / 100.0,
        "version": ver,
        "op": np.where(rng.random(nch) < 0.15, "D", "U")}))

    # customer attribute change log for scd2: unique ts per key
    ncc = n["cust_changes"]
    cust = rng.integers(1, nu + 1, ncc).astype(np.int64)
    cts = (day0 * 86400 + rng.choice(ndays * 86400 * 10, size=ncc, replace=False)).astype(np.int64)
    _write_parquet(os.path.join(out, "cust_changes.parquet"), pa.table({
        "c_custkey": cust,
        "ts": pa.array(cts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
        "c_segment": np.array(["AUTO", "BUILD", "FURN", "HOUSE"])[rng.integers(0, 4, ncc)],
        "c_nation": np.array(["FR", "DE", "BE"])[rng.integers(0, 3, ncc)]}))

    rows = dict(etab=ne, inst=ni, rub=nr, gerep=int(sum(1 for _ in open(os.path.join(out, "gerep.csv")))) - 1,
                company=ncmp, company_od=no, anon=na, orders=nord, lineitem=nl,
                events=nev, order_changes=nch, cust_changes=ncc)
    with open(os.path.join(out, "true_siret.csv"), "w") as f:
        f.write("codeS3ic,siret\n")
        for c, s in zip(codes, true_siret):
            f.write(f"{c},{s}\n")
    return _manifest(out, {"workload": "etl_nightly", "seed": seed, "scale": scale,
                           "rows": rows, "input_rows": int(sum(rows.values())),
                           "shares": sh})


# --------------------------------------------------------------- curation

CUR_BASE = dict(docs=4000)
# Assumed shares, like ETL_SHARES (perfbench/README.md, "Input assumptions").
CUR_SHARES = dict(
    exact_dup=0.04,     # docs that are verbatim copies of a family base
    near_dup=0.08,      # docs that are token-edited copies of a family base
    near_jaccard=[0.55, 0.65, 0.75, 0.85, 0.95],  # planted target Jaccards
    boilerplate=0.15,   # docs carrying one of the shared boilerplate spans
    boilerplate_spans=20,
    boilerplate_len=14,
    empty=0.003,
    null=0.005,
)
THRESHOLD = 0.5
EMB_DIM = 32


def _doc_texts(rng, vocab, n, langs):
    return [" ".join(vocab.draw(rng, l, int(rng.integers(44, 56)))) for l in langs[:n]]


def _near(rng, vocab, lang, text, target):
    toks = text.split()
    d = len(set(toks))
    r = max(1, int(round(d * (1 - target) / (1 + target))))
    pos = rng.choice(len(toks), size=min(r, len(toks)), replace=False)
    fresh = vocab.draw(rng, lang, len(pos) * 3)
    fresh = [w + "x" for w in fresh]  # suffix keeps replacements out of the base's set
    for p, w in zip(pos, fresh):
        toks[p] = w
    return " ".join(toks)


def gen_corpus(rng, vocab, n, sh):
    """Corpus with planted families. Returns (rows, planted_pairs)."""
    n_exact = int(n * sh["exact_dup"])
    n_near = int(n * sh["near_dup"])
    n_empty = int(n * sh["empty"])
    n_null = int(n * sh["null"])
    n_base = n - n_exact - n_near - n_empty - n_null
    langs = list(np.array(LANGS)[rng.integers(0, len(LANGS), n)])
    texts = _doc_texts(rng, vocab, n_base, langs)
    fam = list(range(n_base))
    lang_of = langs[:n_base]
    bases = rng.integers(0, n_base, n_exact + n_near)
    for i, b in enumerate(bases):
        if i < n_exact:
            texts.append(texts[b])
        else:
            t = sh["near_jaccard"][i % len(sh["near_jaccard"])]
            texts.append(_near(rng, vocab, lang_of[b], texts[b], t))
        fam.append(int(b))
        lang_of.append(lang_of[b])
    # boilerplate spans appended to a share of the non-empty documents
    spans = [" ".join(vocab.draw(rng, "en", sh["boilerplate_len"]))
             for _ in range(sh["boilerplate_spans"])]
    for i in np.nonzero(rng.random(len(texts)) < sh["boilerplate"])[0]:
        texts[i] = texts[i] + " " + spans[int(rng.integers(0, len(spans)))]
    texts += [""] * n_empty + [None] * n_null
    fam += [-1] * (n_empty + n_null)
    lang_of += ["en"] * (n_empty + n_null)
    ids = rng.permutation(n).astype(np.int64)
    by_fam = {}
    for j, f in enumerate(fam):
        if f >= 0:
            by_fam.setdefault(f, []).append(j)
    pairs = []
    for members in by_fam.values():
        if len(members) < 2:
            continue
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                ia, ib = members[a], members[b]
                j = jaccard(texts[ia], texts[ib])
                x, y = sorted((int(ids[ia]), int(ids[ib])))
                pairs.append((x, y, j))
    sources = np.array(["crawl-a", "crawl-b", "crawl-c", "forum", "news"])[rng.integers(0, 5, n)]
    # embeddings: a family shares its base's direction plus small noise
    # (cosine ~0.96 to the base), everything else is random in 32-d
    base_vec = rng.normal(0, 1, (n, EMB_DIM))
    emb = np.array([base_vec[f] if f >= 0 else base_vec[j] for j, f in enumerate(fam)])
    emb = emb + rng.normal(0, 0.05, emb.shape) * np.array([f >= 0 for f in fam])[:, None]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    rows = {"doc_id": ids, "text": texts, "lang": lang_of, "source": sources,
            "n_chars": np.array([len(t) if t is not None else 0 for t in texts], dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32()))}
    return rows, pairs


def gen_curation(out, seed, scale):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = _sizes(CUR_BASE, scale)["docs"]
    vocab = Vocab(rng)
    rows, pairs = gen_corpus(rng, vocab, n, CUR_SHARES)
    _write_parquet(os.path.join(out, "documents.parquet"), pa.table(rows))
    planted = [(a, b, j) for a, b, j in pairs if j >= THRESHOLD]
    with open(os.path.join(out, "planted_pairs.csv"), "w") as f:
        for a, b, j in planted:
            f.write(f"{a},{b},{j:.6f}\n")
    return _manifest(out, {"workload": "curation", "seed": seed, "scale": scale,
                           "rows": {"documents": n}, "input_rows": n,
                           "planted_pairs": len(planted), "threshold": THRESHOLD,
                           "shares": CUR_SHARES})


GENERATORS = {"etl_nightly": gen_etl, "curation": gen_curation}
