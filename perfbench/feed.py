"""Seeded daily-feed generator for the warehouse benchmark.

Each generated day is a scaled copy of one reference day (the repository's
fixture days 1-3, cycled), written as `dayN.parquet` in the fixture schema:

- `replicas` copies of the reference day, each with its own ids (trans_id,
  card, account, client and terminal carry a `_<replica>` suffix) and its
  amounts shifted by the replica number, as graft.tools.StressPipeline
  scales a day;
- dates shifted so generated day N is 2020-05-01 + (N - 1) days, times of
  day kept, so the F3/F4 chains of the reference day repeat in every
  replica;
- from day 2 on, the churn kinds of tools/make_day4.py applied to a sample
  drawn from the seed: terminals move city, passports expire, contracts
  expire, cards move to another account of their replica, and a share of
  rows arrive under new client/account/card ids.

The same seed gives byte-identical files; run.py checks that on every run.
"""
import duckdb

REF_DATES = {1: "2020-05-01", 2: "2020-05-02", 3: "2020-05-03"}

# churn shares, in 1/1000 of the sampled entities (or rows, for new ids)
TERMINAL_MOVE = 30
PASSPORT_EXPIRY = 20
CONTRACT_EXPIRY = 20
CARD_MOVE = 20
NEW_ENTITY = 10


def _sampled(seed, day, kind, expr, permille):
    return (f"(hash('{seed}:{day}:{kind}:' || {expr}) % 1000) < {permille}")


def day_sql(fixtures, seed, day, replicas):
    """SELECT producing generated day `day` (1-based)."""
    ref = (day - 1) % 3 + 1
    shift = day - ref
    date = f"DATE '{REF_DATES[ref]}' + INTERVAL {shift} DAY"
    base = f"""
      SELECT t.*, r.rep FROM read_parquet('{fixtures}/day{ref}.parquet') t,
             range({replicas}) r(rep)
      WHERE CAST(t.trans_date AS DATE) = DATE '{REF_DATES[ref]}'"""
    churn = day > 1
    s = lambda kind, expr, p: _sampled(seed, day, kind, expr, p) if churn else "false"
    return f"""
    WITH b AS (
      SELECT 'G{day}-' || trans_id || '_' || rep AS trans_id,
        trans_date + INTERVAL {shift} DAY AS trans_date,
        card_num || '_' || rep AS card_num,
        account || '_' || rep AS account, account_valid_to,
        client || '_' || rep AS client,
        last_name, first_name, patrinymic, date_of_birth, passport,
        passport_valid_to, phone, oper_type,
        CAST(amount + rep AS DECIMAL(18,2)) AS amount, oper_result,
        terminal || '_' || rep AS terminal, terminal_type, city, address, rep
      FROM ({base})),
    alt AS (
      SELECT rep, arg_max(account, account) AS alt_account,
             arg_max(client, account) AS alt_client,
             arg_max(account_valid_to, account) AS alt_valid_to
      FROM b GROUP BY rep),
    c AS (
      SELECT b.*,
        {s('card', 'b.card_num', CARD_MOVE)} AS card_moves,
        {s('new', 'b.trans_id', NEW_ENTITY)} AS new_ids,
        alt.alt_account, alt.alt_client, alt.alt_valid_to
      FROM b JOIN alt USING (rep))
    SELECT trans_id, trans_date,
      CASE WHEN new_ids THEN card_num || '_n{day}' ELSE card_num END AS card_num,
      CASE WHEN new_ids THEN account || '_n{day}'
           WHEN card_moves THEN alt_account ELSE account END AS account,
      CASE WHEN card_moves AND NOT new_ids THEN alt_valid_to
           WHEN {s('contract', 'account', CONTRACT_EXPIRY)}
             THEN CAST({date} - INTERVAL 60 DAY AS DATE)
           ELSE account_valid_to END AS account_valid_to,
      CASE WHEN new_ids THEN client || '_n{day}'
           WHEN card_moves THEN alt_client ELSE client END AS client,
      last_name, first_name, patrinymic, date_of_birth, passport,
      CASE WHEN {s('passport', 'client', PASSPORT_EXPIRY)}
             THEN CAST({date} - INTERVAL 30 DAY AS DATE)
           ELSE passport_valid_to END AS passport_valid_to,
      phone, oper_type, amount, oper_result, terminal, terminal_type,
      CASE WHEN {s('terminal', 'terminal', TERMINAL_MOVE)}
           THEN 'D{day}-' || city ELSE city END AS city,
      CASE WHEN {s('terminal', 'terminal', TERMINAL_MOVE)}
           THEN 'ул. Новая, д. {day}' ELSE address END AS address
    FROM c ORDER BY trans_id"""


def generate(fixtures, out_dir, seed, days, replicas):
    """Write day1..dayN.parquet under out_dir; returns their paths."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    paths = []
    for day in range(1, days + 1):
        path = f"{out_dir}/day{day}.parquet"
        con.execute(f"COPY ({day_sql(fixtures, seed, day, replicas)}) "
                    f"TO '{path}' (FORMAT PARQUET)")
        paths.append(path)
    con.close()
    return paths
