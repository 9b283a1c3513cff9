"""Seeded TPC-H-like fixtures with the schemas of the project's parquet
fixtures (region nation customer supplier part orders lineitem events
documents embeddings, one <name>.parquet each), written by DuckDB. Every
value is a hash of (seed, column, row), so the same seed and scale give
the same files. Row counts follow the TPC-H ratios: orders = 1.5M x sf,
four lines per order on average."""
import os

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
         "merge", "batch", "spark", "a", "the", "line", "sort", "window", "data", "column",
         "join", "small", "big", "customer", "query", "order", "filter", "group", "stream",
         "vector", "index", "page", "cache", "delta", "commit", "snapshot"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]


def counts(sf):
    n = lambda base, low: max(low, round(base * sf))  # noqa: E731
    return {"customer": n(150000, 50), "supplier": n(10000, 10), "part": n(200000, 100),
            "orders": n(1500000, 500), "events": n(1000000, 1000),
            "documents": n(50000, 500), "embeddings": 500}


def write(dirname, seed, sf):
    import duckdb
    os.makedirs(dirname, exist_ok=True)
    c = counts(sf)
    seed = int(seed)

    def pick(n, salt, *cols):
        return f"(hash({seed}, {salt}, {', '.join(cols)}) % {n})::BIGINT"

    def u(salt, *cols):
        return f"((hash({seed}, {salt}, {', '.join(cols)}) % 1000000007)::DOUBLE / 1000000007.0)"

    def lst(xs):
        return "[" + ", ".join(f"'{x}'" for x in xs) + "]"

    def choose(xs, salt, *cols):
        return f"{lst(xs)}[1 + {pick(len(xs), salt, *cols)}]"

    def ids(n):
        return f"(SELECT range AS id FROM range({n}))"

    day = "DATE '1995-01-01'"
    tables = {
        "region": f"SELECT id::INTEGER AS r_regionkey, {lst(REGIONS)}[1 + id] AS r_name FROM {ids(5)}",
        "nation": f"""SELECT id::INTEGER AS n_nationkey, {lst(NATIONS)}[1 + id] AS n_name,
            (id % 5)::INTEGER AS n_regionkey FROM {ids(25)}""",
        "customer": f"""SELECT id AS c_custkey, printf('Customer#%09d', id) AS c_name,
            {pick(25, 1, 'id')}::INTEGER AS c_nationkey,
            round(-999.99 + {u(2, 'id')} * 10999.98, 2) AS c_acctbal,
            {choose(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 3, 'id')}
              AS c_mktsegment FROM {ids(c['customer'])}""",
        "supplier": f"""SELECT id AS s_suppkey, printf('Supplier#%09d', id) AS s_name,
            {pick(25, 4, 'id')}::INTEGER AS s_nationkey,
            round(-999.99 + {u(5, 'id')} * 10999.98, 2) AS s_acctbal FROM {ids(c['supplier'])}""",
        "part": f"""SELECT id AS p_partkey,
            {choose(['red', 'blue', 'green', 'small', 'large'], 6, 'id')} || ' ' ||
              {choose(['widget', 'bolt', 'ring', 'gear', 'valve'], 7, 'id')} AS p_name,
            'Brand#' || ({pick(25, 8, 'id')} + 1)::VARCHAR AS p_brand,
            {choose(['ECONOMY', 'SMALL', 'MEDIUM', 'LARGE', 'PROMO'], 9, 'id')} AS p_type,
            ({pick(50, 10, 'id')} + 1)::INTEGER AS p_size,
            round(900.0 + (id % 1000)::DOUBLE / 10.0, 2) AS p_retailprice FROM {ids(c['part'])}""",
        "orders": f"""SELECT id AS o_orderkey, {pick(c['customer'], 11, 'id')} AS o_custkey,
            {choose(['F', 'O', 'P'], 12, 'id')} AS o_orderstatus,
            round(1000.0 + {u(13, 'id')} * 499000.0, 2) AS o_totalprice,
            ({day} + {pick(2404, 14, 'id')}::INTEGER)::TIMESTAMP AS o_orderdate,
            {choose(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 15, 'id')}
              AS o_orderpriority FROM {ids(c['orders'])}""",
        "lineitem": f"""SELECT o AS l_orderkey, {pick(c['part'], 17, 'o', 'ln')} AS l_partkey,
            {pick(c['supplier'], 18, 'o', 'ln')} AS l_suppkey, ln::INTEGER AS l_linenumber,
            ({pick(50, 19, 'o', 'ln')} + 1)::DOUBLE AS l_quantity,
            round(900.0 + {u(20, 'o', 'ln')} * 99000.0, 2) AS l_extendedprice,
            {pick(11, 21, 'o', 'ln')}::DOUBLE / 100.0 AS l_discount,
            {pick(9, 22, 'o', 'ln')}::DOUBLE / 100.0 AS l_tax,
            {choose(['A', 'N', 'R'], 23, 'o', 'ln')} AS l_returnflag,
            {choose(['F', 'O'], 24, 'o', 'ln')} AS l_linestatus,
            ({day} + (od + {pick(120, 25, 'o', 'ln')})::INTEGER)::TIMESTAMP AS l_shipdate
            FROM (SELECT id AS o, {pick(2404, 14, 'id')} AS od,
                    unnest(range(1, {pick(7, 16, 'id')} + 2)) AS ln FROM {ids(c['orders'])})""",
        "events": f"""SELECT id AS event_id,
            (TIMESTAMP '2024-01-01' + to_seconds({pick(7776000, 26, 'id')})) AS ts,
            {pick(max(10, c['events'] // 10), 27, 'id')} AS user_id,
            {choose(['view', 'view', 'click', 'purchase', 'signup'], 28, 'id')} AS event_type,
            round({u(29, 'id')} * 100.0, 2) AS value,
            '{{"k":' || {pick(10, 30, 'id')}::VARCHAR || ',"src":"s' ||
              {pick(5, 31, 'id')}::VARCHAR || '"}}' AS props FROM {ids(c['events'])}""",
        "documents": f"""SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
            SELECT id AS doc_id,
              array_to_string(list_transform(range(20 + {pick(60, 32, 'id')}),
                i -> {lst(VOCAB)}[1 + (hash({seed}, 33, id, i) % {len(VOCAB)})::BIGINT]), ' ') AS text,
              {choose(['en', 'es', 'fr', 'de', 'zh'], 34, 'id')} AS lang,
              'src' || {pick(20, 35, 'id')}::VARCHAR AS source FROM {ids(c['documents'])})""",
        "embeddings": f"""SELECT id AS vec_id,
            list_transform(range(8), i -> ((hash({seed}, 36, id, i) % 2001)::DOUBLE / 1000.0 - 1.0)::FLOAT)
              AS embedding, {pick(10, 37, 'id')}::INTEGER AS label FROM {ids(c['embeddings'])}""",
    }
    con = duckdb.connect()
    con.execute("PRAGMA threads=1")
    for name, sql in tables.items():
        path = os.path.join(dirname, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' (FORMAT PARQUET)")
    con.close()
