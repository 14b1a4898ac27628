"""Seeded inputs for the benchmark workloads.

The engine only ever sees the files written here. Every generator returns
the expected outcome of each phase next to the inputs, computed from the
pipeline's documented semantics rather than by running the engine.
"""
import datetime
import os
import random

REFERAT = "/vis?Referat-"
COMMITTEE = "oekonomiudvalget"


# ---------------------------------------------------------------- ingest

def _uuid(rng):
    h = "%032x" % rng.getrandbits(128)
    return f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"


def _href(date, uuid, kind="Referat"):
    d = date.strftime("%d-%m-%Y")
    return f"/vis?{kind}-%C3%98konomiudvalget-d.{d}&id={uuid}"


def _filename(muni, date):
    return f"{date.isoformat()}_{muni}_{COMMITTEE}.pdf"


def _portal_links(rng, dates):
    """One listing page's links in discovery order: one Referat link per
    meeting date, plus duplicates, agenda links, navigation links and
    links whose id is malformed. Returns (href, text) pairs."""
    links = []
    for d in dates:
        href = _href(d, _uuid(rng))
        links.append((href, f"Referat {d:%d-%m-%Y}"))
        r = rng.random()
        if r < 0.08:  # the same link again, later on the page
            links.append((href, f"Referat {d:%d-%m-%Y} (igen)"))
        elif r < 0.14:
            links.append((_href(d, _uuid(rng), "Dagsorden"),
                          f"Dagsorden {d:%d-%m-%Y}"))
        elif r < 0.18:
            links.append((f"{REFERAT}%C3%98konomiudvalget&id=BADLY-FORMED",
                          "Referat uden dato"))
        elif r < 0.21:
            links.append(("/om-kommunen", "Om kommunen"))
    return links


def _listing_html(links):
    body = "\n".join(f'  <a href="{h}">{t}</a>' for h, t in links)
    return ("<!DOCTYPE html>\n<html><head><title>Dagsordener og referater"
            "</title>\n<script>var x = \"<a href='/not/a/link'>\";</script>"
            "</head>\n<body>\n<div class=\"list\">\n" + body +
            "\n</div>\n</body></html>\n")


def expected_candidates(links, limit):
    """The generic ingest's candidate filenames for one portal: Referat
    links with a well-formed id, first-seen per URL, the first `limit`
    of them in discovery order."""
    seen, out = set(), []
    for href, _ in links:
        if not href.startswith(REFERAT) or "BADLY-FORMED" in href:
            continue
        if href in seen:
            continue
        seen.add(href)
        out.append(href)
    return out[:limit]


def _date_of(href):
    d = href.split("-d.")[1][:10]
    return datetime.date(int(d[6:]), int(d[3:5]), int(d[:2]))


def gen_ingest(root, seed, portals, links, delta, unconfigured, limit,
               conn_portals, conn_pages, conn_links):
    """Write the ingest inputs under `root` and return the expectations.

    portals/         one listing page per configured municipality (plus
                     `unconfigured` pages no config row points at)
    portals_delta/   the same pages with `delta` newer meetings on top
    municipalities.csv
    connector/<m>/page_N.html  newest-first paginated portals
    """
    rng = random.Random(seed)
    os.makedirs(f"{root}/portals")
    os.makedirs(f"{root}/portals_delta")
    start = datetime.date(2015, 1, 5)
    span = 3000  # days to draw meeting dates from
    first, delta_files, csv = [], [], ["Base URL,Start URL"]
    n_links = 0
    for i in range(portals + unconfigured):
        muni = f"by{seed % 1000:03d}_{i:04d}"
        days = rng.sample(range(span), links + delta)
        old = sorted(days[:links], reverse=True)
        new = sorted(days[links:], reverse=True)
        # delta meetings are newer than every listed one
        new = [span + d for d in new]
        old_dates = [start + datetime.timedelta(d) for d in old]
        new_dates = [start + datetime.timedelta(d) for d in new]
        base_links = _portal_links(rng, old_dates)
        delta_links = _portal_links(rng, new_dates) + base_links
        with open(f"{root}/portals/{muni}.html", "w") as f:
            f.write(_listing_html(base_links))
        with open(f"{root}/portals_delta/{muni}.html", "w") as f:
            f.write(_listing_html(delta_links))
        n_links += sum(h.startswith(REFERAT) for h, _ in base_links)
        if i >= portals:
            continue  # present on disk, absent from the config
        host = rng.choice(["dagsorden", "dagsordener"])
        base = f"https://{host}.{muni}kommune.dk" + rng.choice(["", "/"])
        pad = rng.choice(["", " "])
        csv.append(f"{pad}{base}{pad},{base}/?udvalg={i} ")
        got = expected_candidates(base_links, limit)
        after = expected_candidates(delta_links, limit)
        first += [_filename(muni, _date_of(h)) for h in got]
        have = set(first)
        delta_files += [_filename(muni, _date_of(h)) for h in after
                        if _filename(muni, _date_of(h)) not in have]
    with open(f"{root}/municipalities.csv", "w") as f:
        f.write("\n".join(csv) + "\n")
    conn = gen_connector(f"{root}/connector", rng, seed, conn_portals,
                         conn_pages, conn_links)
    return {
        "limit": limit,
        "links": n_links,
        "empty": len(first),
        "rerun": 0,
        "delta": len(delta_files),
        "sink_files": sorted(first + delta_files),
        **conn,
    }


def gen_connector(root, rng, seed, portals, pages, per_page):
    """Newest-first paginated portals for the DSv2 `meetinglist` source.
    The crawl has a lower date bound, so each portal's reader should stop
    after the first page whose links are all older than it."""
    start = datetime.date(2016, 1, 4)
    span = 2500
    min_date = start + datetime.timedelta(span // 2)
    files, opened = [], 0
    for i in range(portals):
        muni = f"pg{seed % 1000:03d}_{i:04d}"
        os.makedirs(f"{root}/{muni}")
        days = sorted(rng.sample(range(span), pages * per_page), reverse=True)
        dates = [start + datetime.timedelta(d) for d in days]
        stopped = False
        for p in range(pages):
            page_dates = dates[p * per_page:(p + 1) * per_page]
            links = _portal_links(rng, page_dates)
            pager = (f'<ul><li class="pager__item--next"><a href="?page='
                     f'{p + 1}">N&aelig;ste</a></li></ul>'
                     if p + 1 < pages else "")
            with open(f"{root}/{muni}/page_{p}.html", "w") as f:
                f.write("<html><body>\n" + "\n".join(
                    f'<a href="{h}">{t}</a>' for h, t in links) +
                    "\n" + pager + "\n</body></html>\n")
            if stopped:
                continue
            opened += 1
            dated = [_date_of(h) for h, _ in links
                     if h.startswith(REFERAT) and "-d." in h]
            for h, _ in links:
                if (h.startswith(REFERAT) and "BADLY-FORMED" not in h
                        and _date_of(h) >= min_date):
                    files.append(_filename(muni, _date_of(h)))
            if dated and all(d < min_date for d in dated):
                stopped = True
    files = sorted(set(files))
    return {
        "min_date": min_date.isoformat(),
        "connector": len(files),
        "connector_files": files,
        "pages_opened": opened,
        "pages_generated": portals * pages,
    }


# ---------------------------------------------------------------- tables

# TPC-H-like star schema plus events, documents and embeddings, with the
# column names and types the gate queries read. Row counts scale with
# `scale`; `scale=0.01` matches the engine's sf0.01 fixture sizes.
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()


def supplier_chains(seed, suppliers):
    """Adjacent supplier pairs of disjoint chains of 2 to 5 consecutive
    suppliers; the first chain has 5. Each order draws one pair and its
    line items go to either supplier of it (one in fifty to any
    supplier), so the supplier co-purchase graph that q209 thresholds
    is these chains: several components of different sizes, and a
    min-label fixpoint that needs one round per hop of the longest
    chain."""
    rng = random.Random(seed * 7919 + 2)
    pairs, s, n = [], 0, 5
    while s < suppliers:
        n = min(n, suppliers - s)
        pairs += [(s + j, s + j + 1) for j in range(n - 1)]
        s += n
        n = rng.randint(2, 5)
    return pairs


def gen_tables(root, seed, scale):
    import duckdb
    os.makedirs(root)
    k = scale / 0.01
    n = {"customer": int(1500 * k), "supplier": max(10, int(100 * k)),
         "part": int(2000 * k), "orders": int(15000 * k),
         "lineitem": int(60000 * k), "events": int(10000 * k),
         "documents": max(500, int(500 * k)),
         "embeddings": max(500, int(500 * k))}
    users = max(15, int(150 * k))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(c, i): uniform in [0, 1) from (seed, column, row) — deterministic
    # for a given seed whatever the thread count
    con.execute(f"CREATE MACRO u(c, i) AS "
                f"(hash({int(seed)}, c, i) % 1000003) / 1000003.0")
    con.execute("CREATE MACRO pick(c, i, xs) AS "
                "xs[1 + floor(u(c, i) * len(xs))::INT]")
    con.execute("CREATE MACRO money(c, i, lo, hi) AS "
                "round(lo + u(c, i) * (hi - lo), 2)")
    con.execute("CREATE MACRO day(c, i, lo, days) AS "
                "(lo::DATE + floor(u(c, i) * days)::INT)::TIMESTAMP")
    pairs = supplier_chains(seed, n["supplier"])
    con.execute("CREATE TABLE chain (k BIGINT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO chain VALUES (?, ?, ?)",
                    [(k, a, b) for k, (a, b) in enumerate(pairs)])
    sql = {
        "region": "SELECT i::INT r_regionkey, ['AFRICA','AMERICA','ASIA',"
                  "'EUROPE','MIDDLE EAST'][i + 1] r_name FROM range(5) t(i)",
        "nation": "SELECT i::INT n_nationkey, 'NATION_' || i n_name, "
                  "(i % 5)::INT n_regionkey FROM range(25) t(i)",
        "customer": f"""SELECT i c_custkey,
            'Customer#' || lpad(i::VARCHAR, 9, '0') c_name,
            floor(u('c_nat', i) * 25)::INT c_nationkey,
            money('c_bal', i, -999.99, 9999.99) c_acctbal,
            pick('c_seg', i, ['MACHINERY','AUTOMOBILE','HOUSEHOLD',
                 'BUILDING','FURNITURE']) c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey,
            'Supplier#' || lpad(i::VARCHAR, 9, '0') s_name,
            floor(u('s_nat', i) * 25)::INT s_nationkey,
            money('s_bal', i, -999.99, 9999.99) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            pick('p_n1', i, ['blue','old','hot','large','cold','red',
                 'small','new']) || ' ' ||
            pick('p_n2', i, ['widget','gizmo','ring','gear','bolt','plate',
                 'anvil','rod']) p_name,
            'Brand#' || (1 + floor(u('p_br', i) * 25)::INT) p_brand,
            pick('p_ty', i, ['ECONOMY','STANDARD','LARGE','PROMO','SMALL',
                 'MEDIUM']) p_type,
            (1 + floor(u('p_sz', i) * 50))::INT p_size,
            round(900 + (i % 1000) / 10.0, 2) p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey,
            floor(u('o_cust', i) * {n['customer']})::BIGINT o_custkey,
            pick('o_st', i, ['P','O','F']) o_orderstatus,
            money('o_tp', i, 1000, 500000) o_totalprice,
            day('o_dt', i, DATE '1995-01-01', 2404) o_orderdate,
            pick('o_pr', i, ['1-URGENT','2-HIGH','3-MEDIUM',
                 '4-NOT SPECIFIED','5-LOW']) o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT
            floor(u('l_ok', i) * {n['orders']})::BIGINT l_orderkey,
            floor(u('l_pk', i) * {n['part']})::BIGINT l_partkey,
            (CASE WHEN u('l_nz', i) < 0.02
                  THEN floor(u('l_sk', i) * {n['supplier']})
                  WHEN u('l_sk', i) < 0.5 THEN c.a ELSE c.b END)::BIGINT
              l_suppkey,
            (1 + floor(u('l_ln', i) * 7))::INT l_linenumber,
            (1 + floor(u('l_q', i) * 50))::DOUBLE l_quantity,
            money('l_ep', i, 900, 105000) l_extendedprice,
            floor(u('l_d', i) * 11) / 100.0 l_discount,
            floor(u('l_t', i) * 9) / 100.0 l_tax,
            pick('l_rf', i, ['A','N','R']) l_returnflag,
            pick('l_ls', i, ['O','F']) l_linestatus,
            day('l_sd', i, DATE '1995-01-02', 2498) l_shipdate
            FROM range({n['lineitem']}) t(i)
            JOIN chain c ON c.k = floor(u('o_sp', floor(u('l_ok', i) *
              {n['orders']})) * {len(pairs)})
            ORDER BY i""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(
              floor(u('e_ts', i) * 2592000000000)::BIGINT) ts,
            floor(u('e_u', i) * {users})::BIGINT user_id,
            pick('e_ty', i, ['click','signup','error','view','purchase'])
              event_type,
            round(0.01 + u('e_v', i) * 490, 2) AS "value",
            '{{"k": ' || floor(u('e_k', i) * 100)::INT || '}}' props
            FROM range({n['events']}) t(i)""",
    }
    for name, q in sql.items():
        con.execute(f"COPY ({q}) TO '{root}/{name}.parquet' (FORMAT PARQUET)")
    _documents(con, root, seed, n["documents"])
    con.execute(f"""COPY (
        WITH raw AS (SELECT i vec_id,
            list_transform(range(64), j -> (u('x' || j, i) +
              u('y' || j, i) + u('z' || j, i) - 1.5)) AS v,
            floor(u('label', i) * 10)::INT AS label
          FROM range({n['embeddings']}) t(i))
        SELECT vec_id, list_transform(v, x -> (x / sqrt(list_sum(
            list_transform(v, y -> y * y))))::FLOAT) AS embedding, label
        FROM raw ORDER BY vec_id) TO '{root}/embeddings.parquet'
        (FORMAT PARQUET)""")
    con.close()
    return n


def _documents(con, root, seed, n):
    """Random-word documents; about one in twenty is a light edit of an
    earlier one, so the near-duplicate operators have work to do."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = rows[rng.randrange(i)][1].split()
            j = rng.randrange(len(words))
            words[j] = "dup"
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randint(8, 90))]
        text = " ".join(words)
        lang = rng.choices(["en", "fr", "es", "zh", "de"],
                           [44, 13, 15, 15, 14])[0]
        rows.append((i, text, lang, f"src{i % 20}", len(text)))
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY (SELECT * FROM documents ORDER BY doc_id) TO "
                f"'{root}/documents.parquet' (FORMAT PARQUET)")
