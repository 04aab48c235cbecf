"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and sizes: the same
arguments write byte-identical files (stdlib `random.Random`, fixed
formatting, "\\n" line ends). Each returns a summary dict that the run
records (rows, bytes, docs, planted duplicates) and, where the program's
output is predictable from the construction, the expected counts the
output checks compare against.

Three input sets:

- `adventureworks`: the 8 AdventureWorks CSVs the curated pipeline
  reads (customers, products, subcategories, categories, returns and
  three yearly sales files; facts far larger than dims).
- `catalog_tables`: the 10 tables the registered catalog keys read
  (TPC-H-like star schema plus events, documents and embeddings), as
  CSV; the harness converts them to parquet before timing.
- `corpus`: a document corpus with a `url` column and planted
  duplicate families, plus arrival batches for streaming ingest.
"""
import csv
import json
import os
import random
import string

# ---------------------------------------------------------------- helpers


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=True))
            f.write("\n")
    return os.path.getsize(path)


def _mdy(rng, y0, y1):
    y = rng.randint(y0, y1)
    m = rng.randint(1, 12)
    d = rng.randint(1, 28)
    return f"{m}/{d}/{y}"


# --------------------------------------------------------- adventureworks

_AW_COLORS = ["Red", "Black", "Silver", "Blue", "Yellow", "Multi", "NA"]
_AW_EDU = ["Bachelors", "Partial College", "High School", "Graduate Degree",
           "Partial High School"]
_AW_OCC = ["Professional", "Management", "Skilled Manual", "Clerical",
           "Manual"]
_AW_CATS = [(1, "Bikes"), (2, "Components"), (3, "Clothing"),
            (4, "Accessories")]


def adventureworks(out_dir, seed, n_sales, n_customers=4000,
                   n_products=300, n_returns=600):
    """Write the 8 AdventureWorks CSVs (`AdventureWorks_<View>.csv`):
    `n_sales` sales rows over three years, against the dimension sizes.

    Returns the sizes plus `expected_curated_rows`: the curated query
    LEFT JOINs returns on (TerritoryKey, ProductKey), so each sales row
    yields max(1, #returns with its key) rows.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    nbytes = {}

    def put(view, header, rows):
        nbytes[view] = _write_csv(
            os.path.join(out_dir, f"AdventureWorks_{view}.csv"), header, rows)

    put("Product_Categories", ["ProductCategoryKey", "CategoryName"],
        [[k, n] for k, n in _AW_CATS])
    subcats = [[s, f"Subcategory {s}", _AW_CATS[(s - 1) % 4][0]]
               for s in range(1, 38)]
    put("Product_Subcategories",
        ["ProductSubcategoryKey", "SubcategoryName", "ProductCategoryKey"],
        subcats)
    product_keys = list(range(200, 200 + n_products))
    products = []
    for pk in product_keys:
        cost = rng.randint(100, 2000000) / 10000.0
        products.append([
            pk, rng.randint(1, 37), f"SK-{pk:05d}-{rng.randint(10, 99)}",
            f"Product {pk} {rng.choice(_AW_COLORS)}", f"Model-{pk % 40}",
            "Description of product " + str(pk), rng.choice(_AW_COLORS),
            rng.choice([0, 38, 40, 42, 44, 48, 52]), rng.choice("UMW"),
            f"{cost:.4f}", f"{cost * 2.2:.2f}"])
    put("Products",
        ["ProductKey", "ProductSubcategoryKey", "ProductSKU", "ProductName",
         "ModelName", "ProductDescription", "ProductColor", "ProductSize",
         "ProductStyle", "ProductCost", "ProductPrice"], products)
    customers = []
    for ck in range(11000, 11000 + n_customers):
        first = "".join(rng.choice(string.ascii_uppercase) for _ in range(5))
        last = "".join(rng.choice(string.ascii_uppercase) for _ in range(7))
        bd = _mdy(rng, 1940, 1990)
        customers.append([
            ck, rng.choice(["MR.", "MRS.", "MS."]), first, last, bd,
            rng.choice("MS"), rng.choice("MF"),
            f"{first.lower()}{ck}@adventure-works.com",
            f"${rng.randint(1, 17) * 10},000", rng.randint(0, 5),
            rng.choice(_AW_EDU), rng.choice(_AW_OCC), rng.choice("YN")])
    put("Customers",
        ["CustomerKey", "Prefix", "FirstName", "LastName", "BirthDate",
         "MaritalStatus", "Gender", "EmailAddress", "AnnualIncome",
         "TotalChildren", "EducationLevel", "Occupation", "HomeOwner"],
        customers)
    returns = []
    ret_count = {}
    for _ in range(n_returns):
        rd = _mdy(rng, 2015, 2017)
        t, p = rng.randint(1, 10), rng.choice(product_keys)
        returns.append([rd, t, p, rng.randint(1, 3)])
        ret_count[(t, p)] = ret_count.get((t, p), 0) + 1
    put("Returns", ["ReturnDate", "TerritoryKey", "ProductKey",
                    "ReturnQuantity"], returns)
    curated = 0
    per_year = n_sales // 3
    sales_rows = 0
    for year in (2015, 2016, 2017):
        n = per_year if year < 2017 else n_sales - 2 * per_year
        rows = []
        for _ in range(n):
            od = _mdy(rng, year, year)
            sd = _mdy(rng, year - 14, year - 13)
            t, p = rng.randint(1, 10), rng.choice(product_keys)
            rows.append([od, sd, rng.randint(11000, 11000 + n_customers - 1),
                         t, rng.randint(1, 8), rng.randint(1, 5), p])
            curated += max(1, ret_count.get((t, p), 0))
        sales_rows += n
        put(f"Sales_{year}",
            ["OrderDate", "StockDate", "CustomerKey", "TerritoryKey",
             "OrderLineItem", "OrderQuantity", "ProductKey"], rows)
    return {"files": len(nbytes), "bytes": sum(nbytes.values()),
            "sales_rows": sales_rows, "customers": n_customers,
            "products": n_products, "returns": n_returns,
            "expected_curated_rows": curated}


# --------------------------------------------------------- catalog tables

# the word list of the catalog's documents table: a small, query-ish
# vocabulary, so shingle/typo/near-dup keys find structure
_CATALOG_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
_LANGS = ["en"] * 9 + ["zh", "de", "fr", "es"] * 3
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
_PNOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Spark DDL schemas of the CSVs `catalog_tables` writes (embeddings'
# vector is a ';'-joined string the harness splits into array<float>)
CATALOG_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, "
            "p_type STRING, p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, "
                "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                "l_returnflag STRING, l_linestatus STRING, "
                "l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding STRING, label INT",
}


def _day(base_ordinal, offset):
    import datetime
    d = datetime.date.fromordinal(base_ordinal + offset)
    return d.isoformat() + " 00:00:00"


# the catalog tables are fixed (their expected outputs are committed)
CATALOG_SEED = 20240101


def catalog_tables(out_dir):
    """Write the 10 catalog tables as `<name>.csv`, about the size of
    the sf0.01 test data (about 60k lineitem rows)."""
    import datetime
    seed = CATALOG_SEED
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    n_events, n_docs, n_emb = 10000, 500, 500
    rows_by = {}
    tables = {}
    tables["region"] = [[i, n] for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    tables["nation"] = [[i, f"NATION_{i}", i % 5] for i in range(25)]
    tables["customer"] = [
        [i, f"Customer#{i:09d}", rng.randint(0, 24),
         round(rng.uniform(-999.99, 9999.99), 2), rng.choice(_SEGMENTS)]
        for i in range(n_cust)]
    tables["supplier"] = [
        [i, f"Supplier#{i:09d}", rng.randint(0, 24),
         round(rng.uniform(-999.99, 9999.99), 2)] for i in range(n_supp)]
    tables["part"] = [
        [i, f"{rng.choice(_PADJ)} {rng.choice(_PNOUN)}",
         f"Brand#{rng.randint(1, 25)}", rng.choice(_PTYPES),
         rng.randint(1, 50), round(900 + (i % 1000) * 0.1, 2)]
        for i in range(n_part)]
    base = datetime.date(1995, 1, 1).toordinal()
    orders, lines = [], []
    for o in range(n_ord):
        od = rng.randint(0, 2403)
        orders.append([o, rng.randint(0, n_cust - 1), rng.choice("FOP"),
                       round(rng.uniform(1000, 500000), 2), _day(base, od),
                       rng.choice(_PRIOS)])
        if rng.random() < 0.02:
            continue  # orders without lineitems (anti-join keys)
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            lines.append([
                o, rng.randint(0, n_part - 1), rng.randint(0, n_supp - 1), ln,
                qty, round(qty * rng.uniform(900, 2100), 2),
                rng.randint(0, 10) / 100.0, rng.randint(0, 8) / 100.0,
                rng.choice("ANR"), rng.choice("OF"),
                _day(base, od + rng.randint(1, 120))])
    tables["orders"], tables["lineitem"] = orders, lines
    t0 = datetime.datetime(2024, 1, 1)
    secs = sorted(rng.uniform(0, 30 * 86400) for _ in range(n_events))
    tables["events"] = [
        [i, (t0 + datetime.timedelta(seconds=s)).strftime(
            "%Y-%m-%d %H:%M:%S.%f"),
         rng.randint(0, 149), rng.choice(_EVENT_TYPES),
         round(rng.uniform(0.01, 490.0), 2),
         json.dumps({"k": rng.randint(0, 99)})]
        for i, s in enumerate(secs)]
    docs = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.08:
            # planted near duplicate of an earlier doc: one word swapped
            src = rng.randrange(i - 20, i)
            words = docs[src][1].split(" ")
            words[rng.randrange(len(words))] = rng.choice(_CATALOG_WORDS)
        elif i >= 20 and rng.random() < 0.04:
            words = docs[rng.randrange(i - 20, i)][1].split(" ")  # exact
        else:
            words = [rng.choice(_CATALOG_WORDS)
                     for _ in range(rng.randint(20, 90))]
        text = " ".join(words)
        docs.append([i, text, rng.choice(_LANGS), f"src{i % 20}", len(text)])
    tables["documents"] = docs
    tables["embeddings"] = []
    for i in range(n_emb):
        label = rng.randint(0, 9)
        crng = random.Random(seed * 31 + label)  # class centroid
        vec = [crng.gauss(0, 0.12) + rng.gauss(0, 0.05) for _ in range(64)]
        tables["embeddings"].append(
            [i, ";".join(f"{v:.6f}" for v in vec), label])
    with open(os.path.join(out_dir, "schemas.tsv"), "w", encoding="utf-8",
              newline="\n") as f:
        for name in tables:
            f.write(f"{name}\t{CATALOG_SCHEMAS[name]}\n")
    nbytes = 0
    for name, rows in tables.items():
        header = [c.split()[0] for c in CATALOG_SCHEMAS[name].split(", ")]
        nbytes += _write_csv(os.path.join(out_dir, f"{name}.csv"), header,
                             rows)
        rows_by[name] = len(rows)
    return {"tables": len(tables), "bytes": nbytes, "rows": rows_by,
            "docs": n_docs}


# ------------------------------------------------------------------ corpus

_SYL_C = "bcdfghjklmnprstvz"
_SYL_V = "aeiou"


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL_C) + rng.choice(_SYL_V)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _sentence_lines(rng, vocab, n_words):
    """Text of `n_words` lowercase words in lines of 8-12 words: every
    line survives the line-clean rules and the min-token gate."""
    words = [rng.choice(vocab) for _ in range(n_words)]
    lines, i = [], 0
    while i < len(words):
        k = rng.randint(8, 12)
        if len(words) - (i + k) < 8:
            k = len(words) - i
        lines.append(" ".join(words[i:i + k]))
        i += k
    return "\n".join(lines)


def corpus(out_dir, seed, n_docs, n_batches, batch_docs):
    """Write `corpus.jsonl` (doc_id, text, lang, source, n_chars, url)
    and `batch_<k>.jsonl` arrival batches.

    Planted families (disjoint; each copy's doc_id is larger than its
    original's, so the original is the survivor everywhere), named by
    the `TrainingPipeline` stage each one targets:
      - url refetches: another doc under a utm/case/fragment variant of
        an earlier doc's URL (dies in the URL-canonical dedup);
      - boilerplate: docs with uppercase/counter/login lines over 5% of
        their characters (die in the line-clean stage); other docs get
        one short counter line (removed, doc kept);
      - exact copies: identical text (die in exact dedup);
      - chunk copies: an original of 60+ words plus one appended line
        (most CDC chunk bytes first seen earlier: die in chunk dedup);
      - near copies: one word swapped and punctuation sprinkled through
        the raw text (raw chunks all differ, 2-word shingle Jaccard
        stays above 0.9: die in the MinHash near-dup stage).
    Base docs are 40-80 words over a 4000-word synthetic vocabulary, so
    unrelated docs share no shingles, chunks or fingerprints; lengths
    are near-uniform, so no doc is a length outlier. Some docs carry an
    email, IP or phone (redacted, never a count change).

    Each arrival batch is half exact copies of PII-free corpus originals
    under new ids and URLs, half novel docs; exactly the novel half
    survives ingest.
    """
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    os.makedirs(out_dir, exist_ok=True)
    hosts = [f"site{h}.example.org" for h in range(60)]
    docs = []
    originals = []  # ids of base docs eligible as a family original
    pii_free = []
    fam = {"url_refetch": 0, "boilerplate": 0, "exact_copy": 0,
           "chunk_copy": 0, "near_copy": 0, "pii_docs": 0}

    def add(text, url, lang=None):
        i = len(docs)
        docs.append({"doc_id": i, "text": text,
                     "lang": lang or rng.choice(_LANGS),
                     "source": f"src{i % 20}", "n_chars": len(text),
                     "url": url})
        return i

    def fresh_url(i):
        return (f"https://{rng.choice(hosts)}/p/{i}/"
                f"{rng.choice(vocab)}?id={rng.randint(1, 10**6)}")

    while len(docs) < n_docs:
        i = len(docs)
        r = rng.random()
        if len(originals) < 50 or r < 0.70:
            text = _sentence_lines(rng, vocab, rng.randint(40, 80))
            pii = rng.random()
            if pii < 0.05:
                text += f"\nwrite to {rng.choice(vocab)}{i}@mail.example.com"
            elif pii < 0.08:
                text += f"\nserver {rng.choice(vocab)} at 10.{i % 200}.3.{i % 250}"
            elif pii < 0.10:
                text += f"\ncall {rng.choice(vocab)} on 555-{i % 10000:04d}"
            elif pii < 0.20:
                text += f"\n{rng.randint(2, 99)} likes"
            if pii < 0.10:
                fam["pii_docs"] += 1
            else:
                pii_free.append(i)
            originals.append(i)
            add(text, fresh_url(i))
        elif r < 0.76:
            src = docs[rng.choice(originals)]
            u = src["url"].replace("https://", "https://WWW.", 1)
            u += rng.choice(["&utm_source=feed", "&utm_medium=mail",
                             "#section"])
            add(_sentence_lines(rng, vocab, rng.randint(40, 80)), u)
            fam["url_refetch"] += 1
        elif r < 0.82:
            body = _sentence_lines(rng, vocab, rng.randint(40, 80))
            junk = [f"SHARE THIS PAGE WITH {rng.choice(vocab).upper()}",
                    f"{rng.randint(100, 999)} views",
                    "Sign in to continue reading",
                    f"{rng.randint(1000, 9999)} {rng.randint(10, 99)}.5"]
            add(body + "\n" + "\n".join(junk), fresh_url(i))
            fam["boilerplate"] += 1
        elif r < 0.88:
            src = docs[rng.choice(originals)]
            add(src["text"], fresh_url(i), src["lang"])
            fam["exact_copy"] += 1
        elif r < 0.94:
            long_ones = [o for o in originals[-200:]
                         if len(docs[o]["text"].split()) >= 60]
            if not long_ones:
                continue
            src = docs[rng.choice(long_ones)]
            tail = " ".join(rng.choice(vocab) for _ in range(6))
            add(src["text"] + "\n" + tail, fresh_url(i), src["lang"])
            fam["chunk_copy"] += 1
        else:
            src = docs[rng.choice(originals)]
            lines = src["text"].split("\n")
            words = lines[0].split(" ")
            k = rng.randrange(len(words))
            words[k] = rng.choice([w for w in vocab[:50] if w != words[k]])
            lines[0] = " ".join(words)
            # a comma after every word breaks every raw CDC chunk but
            # normalizes away before shingling
            add("\n".join(" ".join(w + "," for w in line.split(" "))
                           for line in lines), fresh_url(i), src["lang"])
            fam["near_copy"] += 1
    corpus_bytes = _write_jsonl(os.path.join(out_dir, "corpus.jsonl"), docs)
    removed = (fam["url_refetch"] + fam["boilerplate"] + fam["exact_copy"]
               + fam["chunk_copy"] + fam["near_copy"])
    batch_bytes, survivors = 0, []
    next_id = 10**7
    for b in range(n_batches):
        rows, novel = [], 0
        for k in range(batch_docs):
            i = next_id
            next_id += 1
            if k % 2 == 0:
                src = docs[rng.choice(pii_free)]
                text, lang = src["text"], src["lang"]
            else:
                text = _sentence_lines(rng, vocab, rng.randint(40, 80))
                lang = rng.choice(_LANGS)
                novel += 1
            rows.append({"doc_id": i, "text": text, "lang": lang,
                         "source": f"stream{b}", "n_chars": len(text),
                         "url": f"https://ingest.example.org/b{b}/{i}"})
        batch_bytes += _write_jsonl(
            os.path.join(out_dir, f"batch_{b}.jsonl"), rows)
        survivors.append(novel)
        next_id += 100000  # id gap between batches (arrival order)
    return {"docs": n_docs, "bytes": corpus_bytes,
            "planted": fam, "planted_duplicates": removed,
            "batches": n_batches, "batch_docs": batch_docs,
            "batch_bytes": batch_bytes,
            "expected_batch_survivors": survivors}
