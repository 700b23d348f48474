"""Seeded inputs of the benchmark's workloads, written as Parquet by DuckDB.

The same seed gives the same files. Every column is a function of
(seed, salt, row id) through DuckDB's `hash`, so no state is carried
between rows.

Olist tables follow the public Olist data the reference loads: per 100k
orders about 113k order items, 1M geolocation rows over 19k zip prefixes,
3.1k sellers, 33k products in 70 categories, 8k marketing leads and 842
closed deals; `scale` multiplies every count. The built history's orders
fall in 2016-09-04 .. 2018-12-31 with volume rising linearly. Orders after
the build's 2019-01-01 cutoff are staged one file per day, with a quarter
of each day's items staged apart as late items that land a day later.
"""
import os
import random

import duckdb

HISTORY_START = "2016-09-04"
CUTOFF = "2019-01-01"
LATE_SHARE = 0.25
SECOND_ITEM_SHARE = 0.13
N_CATEGORIES = 70
ORIGINS = ["organic_search", "paid_search", "social", "unknown", "direct_traffic",
           "email", "referral", "other", "display", "other_publicities"]
SEGMENTS = [f"category_{i}" for i in range(20)] + [f"Segment_{i}" for i in range(13)]

TABLES = ("orders", "order_items", "products", "category", "sellers",
          "geolocation", "leads", "closed_deals")


class Olist:
    def __init__(self, seed, scale):
        self.seed = seed
        self.n_orders = round(100000 * scale)
        self.n_geo = round(1000000 * scale)
        self.n_zips = round(19000 * scale)
        self.n_sellers = round(3100 * scale)
        self.n_products = round(33000 * scale)
        self.n_leads = round(8000 * scale)
        self.n_deals = round(842 * scale)
        # orders per day after the cutoff: the history's final daily rate
        self.orders_per_day = max(1, round(self.n_orders / 850 * 2))

    def u(self, salt, key):
        """Uniform double in [0, 1) from (seed, salt, key)."""
        return f"((hash({self.seed}, {salt}, {key}) % 1099511627776)::DOUBLE / 1099511627776)"

    def pick(self, salt, key, n):
        return f"CAST(floor({self.u(salt, key)} * {n}) AS BIGINT)"

    def zip_state(self, z):
        return f"('S' || (hash({self.seed}, 7, {z}) % 27))"

    def order_cols(self, ts, status):
        return f"""
            md5('o{self.seed}-' || id) AS order_id,
            md5('c{self.seed}-' || id) AS customer_id,
            {status} AS order_status,
            {ts} AS order_purchase_timestamp,
            {ts} + INTERVAL 1 HOUR AS order_approved_at,
            {ts} + INTERVAL 2 DAY AS order_delivered_carrier_date,
            {ts} + INTERVAL 8 DAY AS order_delivered_customer_date,
            {ts} + INTERVAL 20 DAY AS order_estimated_delivery_date"""

    def orders(self):
        span = f"(epoch(TIMESTAMPTZ '{CUTOFF}') - epoch(TIMESTAMPTZ '{HISTORY_START}'))"
        ts = (f"to_timestamp(epoch(TIMESTAMPTZ '{HISTORY_START}') + "
              f"floor(sqrt({self.u(42, 'id')}) * {span}))")
        s = self.u(41, "id")
        status = (f"CASE WHEN {s} < 0.006 THEN 'canceled' WHEN {s} < 0.017 THEN 'shipped' "
                  f"WHEN {s} < 0.020 THEN ' Unavailable' ELSE 'delivered' END")
        return f"SELECT {self.order_cols(ts, status)} FROM range({self.n_orders}) t(id)"

    def orders_after_cutoff(self, days):
        """Orders of `days` days after the cutoff, with their day `d`.
        Each day's first three orders are canceled, shipped and
        ' Unavailable' (the status the load must drop, and two it must
        keep), so every loaded day exercises the status filter."""
        lo = self.n_orders
        d = f"((id - {lo}) // {self.orders_per_day})"
        ts = (f"to_timestamp(epoch(TIMESTAMPTZ '{CUTOFF}') + {d} * 86400 + "
              f"floor({self.u(43, 'id')} * 86400))")
        status = (f"['canceled', 'shipped', ' Unavailable']"
                  f"[(id - {lo}) % {self.orders_per_day} + 1]")
        status = f"coalesce({status}, 'delivered')"
        return (f"SELECT {self.order_cols(ts, status)}, {d} AS d "
                f"FROM range({lo}, {lo + days * self.orders_per_day}) t(id)")

    def items(self, lo, hi, late=None):
        """Items of order ids [lo, hi) with their order's day `d` after
        the cutoff: one per order, a second for a share of orders. Seller
        popularity is skewed (a cubic draw favours low seller ids) so the
        top-seller reports have clear leaders."""
        n = hi - lo
        extra = round(n * SECOND_ITEM_SHARE)
        k = f"(id + {lo * 3})"
        oid = f"CASE WHEN id < {n} THEN id + {lo} ELSE {self.pick(51, k, n)} + {lo} END"
        where = "" if late is None else \
            f"WHERE ({self.u(56, k)} < {LATE_SHARE}) = {'true' if late else 'false'}"
        return f"""
            SELECT md5('o{self.seed}-' || ({oid})) AS order_id,
                   CAST(CASE WHEN id < {n} THEN 1 ELSE 2 END AS INTEGER) AS order_item_id,
                   'p' || {self.pick(52, k, self.n_products)} AS product_id,
                   's' || CAST(floor(pow({self.u(53, k)}, 3) * {self.n_sellers}) AS BIGINT) AS seller_id,
                   TIMESTAMPTZ '{HISTORY_START}' AS shipping_limit_date,
                   (floor({self.u(54, k)} * 40000) + 490) / 100.0 AS price,
                   (floor({self.u(55, k)} * 5000) + 100) / 100.0 AS freight_value,
                   (({oid}) - {self.n_orders}) // {self.orders_per_day} AS d
            FROM range({n + extra}) t(id) {where}"""

    def order_items(self):
        return f"SELECT * EXCLUDE (d) FROM ({self.items(0, self.n_orders)})"

    def items_after_cutoff(self, days, late):
        lo = self.n_orders
        return self.items(lo, lo + days * self.orders_per_day, late=late)

    def category(self):
        rows = ", ".join(f"('categoria_{i}', 'category_{i}')" for i in range(N_CATEGORIES))
        # the reference's CSV import leaked its header row into the data
        rows += ", ('product_category_name_english', 'Product_category_name_english')"
        return (f"SELECT * FROM (VALUES {rows}) "
                "t(product_category_name, product_category_name_english)")

    def products(self):
        cat = f"CAST({self.pick(12, 'id', N_CATEGORIES)} AS VARCHAR)"
        ints = [("product_name_lenght", 13, 60, 5), ("product_description_lenght", 14, 3000, 50),
                ("product_photos_qty", 15, 6, 1), ("product_weight_g", 16, 30000, 50),
                ("product_length_cm", 17, 90, 10), ("product_height_cm", 18, 90, 2),
                ("product_width_cm", 19, 90, 6)]
        cols = ", ".join(f"CAST({self.pick(s, 'id', n)} + {o} AS INTEGER) AS {c}"
                         for c, s, n, o in ints)
        # some names upper-cased with padding: the build joins them to the
        # category table under lower(trim(..)), like the reference's collation
        return f"""
            SELECT 'p' || id AS product_id,
                   CASE WHEN {self.u(11, 'id')} < 0.05 THEN ' CATEGORIA_' || {cat}
                        ELSE 'categoria_' || {cat} END AS product_category_name,
                   {cols}
            FROM range({self.n_products}) t(id)"""

    def geolocation(self):
        z = self.pick(21, "id", self.n_zips)
        return f"""
            SELECT CAST(z AS INTEGER) AS geolocation_zip_code_prefix,
                   -30.0 + {self.u(22, 'id')} * 25 AS geolocation_lat,
                   -60.0 + {self.u(23, 'id')} * 25 AS geolocation_lng,
                   'cidade ' || z AS geolocation_city,
                   {self.zip_state('z')} AS geolocation_state
            FROM (SELECT id, {z} AS z FROM range({self.n_geo}) t(id))"""

    def sellers(self):
        """Seller i sits in the zip of geolocation row 7i + 3, so every
        seller has a location; a tenth spell their city in upper case."""
        z = self.pick(21, "(id * 7 + 3)", self.n_zips)
        return f"""
            SELECT 's' || id AS seller_id, CAST(z AS INTEGER) AS seller_zip_code_prefix,
                   CASE WHEN {self.u(31, 'id')} < 0.1 THEN upper('cidade ' || z)
                        ELSE 'cidade ' || z END AS seller_city,
                   {self.zip_state('z')} AS seller_state
            FROM (SELECT id, {z} AS z FROM range({self.n_sellers}) t(id))"""

    def first_contact(self, lead):
        return (f"to_timestamp(epoch(TIMESTAMPTZ '2017-06-14') + "
                f"floor({self.u(61, lead)} * 350 * 86400))")

    def leads(self):
        origins = "[" + ", ".join(f"'{o}'" for o in ORIGINS) + "]"
        return f"""
            SELECT md5('m{self.seed}-' || id) AS mql_id,
                   {self.first_contact('id')} AS first_contact_date,
                   'lp' || {self.pick(62, 'id', 495)} AS landing_page_id,
                   CASE WHEN {self.u(63, 'id')} < 0.01 THEN NULL
                        ELSE {origins}[{self.pick(64, 'id', len(ORIGINS))} + 1] END AS origin
            FROM range({self.n_leads}) t(id)"""

    def closed_deals(self):
        """Deal i converts lead (i * 7919 mod nLeads), distinct for every
        deal. Won dates follow first contact by a skewed number of hours;
        about 2% precede it (the reference's negative-duration rows that
        the build deletes)."""
        lead = f"((id * 7919) % {self.n_leads})"
        hrs = (f"CASE WHEN {self.u(71, 'id')} < 0.02 THEN -{self.pick(72, 'id', 48)} - 1 "
               f"ELSE CAST(floor(pow({self.u(73, 'id')}, 2) * 4000) AS BIGINT) + 1 END")
        segs = "[" + ", ".join(f"'{s}'" for s in SEGMENTS) + "]"
        return f"""
            SELECT md5('m{self.seed}-' || {lead}) AS mql_id,
                   's' || {self.pick(74, 'id', self.n_sellers)} AS seller_id,
                   'sdr' || {self.pick(75, 'id', 32)} AS sdr_id,
                   'sr' || {self.pick(76, 'id', 22)} AS sr_id,
                   {self.first_contact(lead)} + to_hours({hrs}) AS won_date,
                   CASE WHEN {self.u(86, 'id')} < 0.01 THEN NULL
                        ELSE {segs}[{self.pick(77, 'id', len(SEGMENTS))} + 1] END AS business_segment,
                   'lead_type_' || {self.pick(78, 'id', 8)} AS lead_type,
                   ['cat', 'eagle', 'wolf', 'shark'][{self.pick(79, 'id', 4)} + 1]
                       AS lead_behaviour_profile,
                   {self.u(80, 'id')} < 0.5 AS has_company,
                   {self.u(81, 'id')} < 0.5 AS has_gtin,
                   'medium' AS average_stock,
                   CASE WHEN {self.u(82, 'id')} < 0.03 THEN NULL
                        ELSE ['reseller', 'manufacturer', 'other'][{self.pick(83, 'id', 3)} + 1]
                   END AS business_type,
                   CAST({self.pick(84, 'id', 2000)} + 1 AS DOUBLE) AS declared_product_catalog_size,
                   CAST({self.pick(85, 'id', 100000)} * 10 AS DOUBLE) AS declared_monthly_revenue
            FROM range({self.n_deals}) t(id)"""


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    return con


def copy(con, query, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({query}) TO '{path}' (FORMAT parquet)")


def write_olist(seed, scale, src_dir, stage_dir, days):
    """The eight source tables under `src_dir/<table>/`, and `days`
    post-cutoff days staged under `stage_dir/{orders,items,late_items}/d=<day>/`
    (items: on time; late_items: landing a day after their order)."""
    g = Olist(seed, scale)
    con = connect()
    for t in TABLES:
        copy(con, getattr(g, t)(), os.path.join(src_dir, t, "part-0.parquet"))
    os.makedirs(stage_dir, exist_ok=True)
    for kind, query in (("orders", g.orders_after_cutoff(days)),
                        ("items", g.items_after_cutoff(days, False)),
                        ("late_items", g.items_after_cutoff(days, True))):
        con.execute(f"COPY ({query}) TO '{os.path.join(stage_dir, kind)}' "
                    "(FORMAT parquet, PARTITION_BY (d))")
    con.close()


def write_corpus(seed, src_dir, n_docs=5000, n_queries=8):
    """A retrieval corpus in the shape of the sf0.1 `documents` table:
    documents of 10..100 words over a 1,000-word vocabulary with Zipf-like
    frequencies (word w{i} drawn as floor(1000^u) - 1). Returns the query
    pool: `n_queries` strings of three mid-frequency words (w010..w199)."""
    con = connect()
    word = f"CAST(floor(pow(1000, ((hash({seed}, 91, doc_id, pos) % 1048576) / 1048576.0))) - 1 AS BIGINT)"
    n_words = f"CAST(10 + hash({seed}, 90, doc_id) % 91 AS BIGINT)"
    copy(con, f"""
        SELECT doc_id,
               string_agg('w' || lpad(CAST({word} AS VARCHAR), 3, '0'), ' ' ORDER BY pos) AS text,
               ['en', 'pt', 'es', 'de', 'zh'][CAST(hash({seed}, 92, doc_id) % 5 AS BIGINT) + 1] AS lang
        FROM (SELECT doc_id, pos FROM range({n_docs}) d(doc_id),
              LATERAL (SELECT unnest(range({n_words})) AS pos))
        GROUP BY doc_id""", os.path.join(src_dir, "documents", "part-0.parquet"))
    con.close()
    rnd = random.Random(seed)
    return [" ".join(f"w{rnd.randrange(10, 200):03d}" for _ in range(3)) for _ in range(n_queries)]
