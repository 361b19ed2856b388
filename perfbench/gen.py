"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and an output directory and writes parquet
files. The seed changes the values; the row counts, the key structure and
the mix of operations are fixed by the constants below, so any two seeds
give inputs of the same shape and the same work.
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- medallion

TEAMS = 30
PLAYERS_PER_TEAM = 12
GAMES_PER_TEAM = 30          # each team's players all appear in each game
QUARTERS = ("Q1", "Q2", "Q3", "Q4")
SEASON_START = dt.date(2023, 10, 24)
SEASON_DAYS = 170            # Oct 2023 .. Apr 2024: two calendar years
NO_SEASON_PLAYERS = 6        # in gamelogs, missing from ld_season (J1 miss)
DUP_SEASON_PLAYERS = 10      # ld_season rows repeated verbatim (A5 dedup)
NULL_BIRTHDATE_PLAYERS = 8   # ld_season rows with a null birthdate
LONG_VALUE = 2**31           # one gamelogs value above 2^31 - 1 (D1 stays long)
# team 0 is renamed in ld_season (J3 miss); team 1 has no 2024 ld_teams
# row (J2 miss for its 2024 games)

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def medallion(seed, out_dir):
    """The four NBA-shaped landing tables under `<out_dir>/landing/`."""
    rng = np.random.default_rng([seed, 1])
    landing = os.path.join(out_dir, "landing")
    os.makedirs(landing, exist_ok=True)

    cities = [f"City{t:02d}" for t in range(TEAMS)]
    nicks = [f"Nick{t:02d}" for t in range(TEAMS)]
    full = [f"{cities[t]} {nicks[t]}" for t in range(TEAMS)]
    abbr = [f"T{t:02d}" for t in range(TEAMS)]
    n_players = TEAMS * PLAYERS_PER_TEAM
    p_team = np.arange(n_players) // PLAYERS_PER_TEAM
    p_name = [f"Player {p:04d}" for p in range(n_players)]

    # one schedule per team: distinct game days drawn from the season
    days = np.stack([np.sort(rng.choice(SEASON_DAYS, GAMES_PER_TEAM,
                                        replace=False))
                     for _ in range(TEAMS)])
    n_rows = n_players * GAMES_PER_TEAM
    pl = np.repeat(np.arange(n_players), GAMES_PER_TEAM)
    gi = np.tile(np.arange(GAMES_PER_TEAM), n_players)
    tm = p_team[pl]
    day = days[tm, gi]
    dates = [SEASON_START + dt.timedelta(days=int(d)) for d in day]

    mins = rng.integers(4, 44, n_rows)
    fga = rng.integers(0, 25, n_rows)
    fgm = (fga * rng.random(n_rows)).astype(np.int64)
    reb = rng.integers(0, 16, n_rows)
    ast = rng.integers(0, 13, n_rows)
    ftm = rng.integers(0, 9, n_rows)
    pts = 2 * fgm + ftm
    video = rng.integers(0, 2, n_rows)
    video[int(rng.integers(n_rows))] = LONG_VALUE
    opp = (tm + 1 + rng.integers(0, TEAMS - 1, n_rows)) % TEAMS
    gamelogs = pa.table({
        "season_id": pa.array(np.full(n_rows, 22023), pa.int64()),
        "player_id": pa.array(pl, pa.int64()),
        "game_id": [f"G{t:02d}{g:03d}" for t, g in zip(tm, gi)],
        "game_date": [f"{MONTHS[d.month - 1]} {d.day:02d}, {d.year}"
                      for d in dates],
        "matchup": [f"{abbr[t]} vs {abbr[o]}" for t, o in zip(tm, opp)],
        "wl": np.where(rng.random(n_rows) < 0.5, "W", "L").tolist(),
        "min": pa.array(mins, pa.int64()),
        "fgm": pa.array(fgm, pa.int64()),
        "fga": pa.array(fga, pa.int64()),
        "pts": pa.array(pts, pa.int64()),
        "reb": pa.array(reb, pa.int64()),
        "ast": pa.array(ast, pa.int64()),
        "video_available": pa.array(video, pa.int64()),
        "player_name": [p_name[p] for p in pl],
        "partition_0": ["2023"] * n_rows,
        "partition_1": ["regular"] * n_rows,
    })
    pq.write_table(gamelogs, os.path.join(landing, "ld_gamelogs.parquet"))

    # quarter rows: one per (player, game, quarter)
    nq = n_rows * len(QUARTERS)
    qpl = np.repeat(pl, len(QUARTERS))
    qtm = np.repeat(tm, len(QUARTERS))
    qdates = np.repeat(np.array([d.isoformat() for d in dates]), len(QUARTERS))
    qfga = rng.integers(0, 8, nq)
    qfg = (qfga * rng.random(nq)).astype(np.int64)
    q3p = (qfg * rng.random(nq)).astype(np.int64)
    games = pa.table({
        "fecha": qdates.tolist(),
        "equipo": [full[t] for t in qtm],
        "cuarto": list(QUARTERS) * n_rows,
        "jugador": [p_name[p] for p in qpl],
        "titular": np.where(qpl % PLAYERS_PER_TEAM < 5, "titular",
                            "suplente").tolist(),
        "minutos": [f"{m:02d}:{s:02d}" for m, s in
                    zip(rng.integers(0, 12, nq), rng.integers(0, 60, nq))],
        "fg": pa.array(qfg, pa.int64()),
        "fga": pa.array(qfga, pa.int64()),
        "3p": pa.array(q3p, pa.int64()),
        "pts": pa.array(2 * qfg + q3p, pa.int64()),
        "+/-": pa.array(rng.integers(-15, 16, nq), pa.int64()),
        "partition_0": ["2023"] * nq,
        "partition_1": ["quarters"] * nq,
    })
    pq.write_table(games, os.path.join(landing, "ld_games.parquet"))

    # player dimension: the seed picks which players carry each edge case
    order = rng.permutation(n_players)
    missing = set(order[:NO_SEASON_PLAYERS].tolist())
    dups = order[NO_SEASON_PLAYERS:NO_SEASON_PLAYERS + DUP_SEASON_PLAYERS]
    nulls = set(order[NO_SEASON_PLAYERS + DUP_SEASON_PLAYERS:
                      NO_SEASON_PLAYERS + DUP_SEASON_PLAYERS +
                      NULL_BIRTHDATE_PLAYERS].tolist())
    season_players = [p for p in range(n_players) if p not in missing]
    season_players += sorted(dups.tolist())
    ns = len(season_players)
    born = rng.integers(0, 365 * 15, n_players)
    positions = np.array(["G", "F", "C", "G-F", "F-C"])[
        rng.integers(0, 5, n_players)]
    ages = rng.integers(19, 40, n_players)
    gp = rng.integers(1, 83, n_players)
    spts = rng.integers(0, 2500, n_players)

    def birth(p):
        if p in nulls:
            return None
        d = dt.date(1984, 1, 1) + dt.timedelta(days=int(born[p]))
        return d.isoformat() + "T00:00:00"

    season = pa.table({
        "player_id": pa.array(season_players, pa.int64()),
        "season_id": ["2023-24"] * ns,
        "team_id": pa.array([int(p_team[p]) for p in season_players],
                            pa.int64()),
        "team_abbreviation": [abbr[p_team[p]] for p in season_players],
        "player_age": pa.array([int(ages[p]) for p in season_players],
                               pa.int64()),
        "gp": pa.array([int(gp[p]) for p in season_players], pa.int64()),
        "pts": pa.array([int(spts[p]) for p in season_players], pa.int64()),
        "player_name": [p_name[p] for p in season_players],
        "team_name_current": [("Relocated" if p_team[p] == 0 else
                               nicks[p_team[p]]) for p in season_players],
        "team_city": [cities[p_team[p]] for p in season_players],
        "position": [str(positions[p]) for p in season_players],
        "birthdate": [birth(p) for p in season_players],
        "partition_0": ["2023"] * ns,
    })
    pq.write_table(season, os.path.join(landing, "ld_season.parquet"))

    team_rows = [(t, y) for t in range(TEAMS) for y in (2023, 2024)
                 if not (t == 1 and y == 2024)]
    conf = ["East", "West"]
    div = [f"Div{d}" for d in range(6)]
    teams = pa.table({
        "team": [full[t] for t, _ in team_rows],
        "nametag": [abbr[t] for t, _ in team_rows],
        "year": pa.array([y for _, y in team_rows], pa.int64()),
        "division": [div[t % 6] for t, _ in team_rows],
        "conference": [conf[(t // 6) % 2] for t, _ in team_rows],
        "partition_0": ["2023"] * len(team_rows),
    })
    pq.write_table(teams, os.path.join(landing, "ld_teams.parquet"))
    return {"ld_gamelogs": gamelogs.num_rows, "ld_games": games.num_rows,
            "ld_season": season.num_rows, "ld_teams": teams.num_rows}


# ---------------------------------------------------------- operator tables

CUSTOMERS = 3000
ORDERS = 30000               # lines per order cycle 1..7: ~120k lineitems
NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2403            # 1995-01-01 .. 2001-08-01


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def tpch(seed, out_dir):
    """`nation`, `customer`, `orders`, `lineitem` with the harness schemas."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(NATIONS)],
        "n_regionkey": pa.array(np.arange(NATIONS) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, CUSTOMERS),
                                pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": np.array(SEGMENTS)[
            rng.integers(0, len(SEGMENTS), CUSTOMERS)].tolist(),
    })
    odays = rng.integers(0, ORDER_DAYS, ORDERS)
    odate = EPOCH + odays
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, ORDERS)].tolist(),
        "o_totalprice": _cents(rng, 1000, 500000, ORDERS),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), ts),
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, len(PRIORITIES), ORDERS)].tolist(),
    })
    per_order = np.arange(ORDERS) % 7 + 1
    n_li = int(per_order.sum())
    lok = np.repeat(np.arange(ORDERS), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = odate[lok] + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), ts),
    })
    out = {}
    for name, t in (("nation", nation), ("customer", customer),
                    ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = t.num_rows
    return out


# ----------------------------------------------------------------- tx cycles

TX_BASE_ROWS = 20000
TX_CYCLES = 64               # generated; a run executes as many as fit
TX_MERGE_ROWS = 400          # per cycle; ~60% hit existing keys
TX_MERGE_HIT = 0.6
TX_RECENT = 2000             # hits prefer the most recently written keys
TX_RECENT_BIAS = 0.7
TX_APPEND_ROWS = 300
TX_DELETE_KEYS = 100
TX_GROUPS = 16


def tx(seed, out_dir):
    """Base rows plus a per-cycle operation stream.

    `tx_base.parquet`: (k, g, v). `tx_ops.parquet`: (cycle, op, k, g, v)
    with op in {merge, append, delete, read}; a read row carries the group
    its read-after-write aggregate filters on. Keys are unique within each
    merge and each delete, appends only add fresh keys, and deletes only
    target keys live at that point, so every operation is well defined.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    live = list(range(TX_BASE_ROWS))          # insertion order = recency
    live_set = set(live)
    next_key = TX_BASE_ROWS
    base = pa.table({
        "k": pa.array(np.arange(TX_BASE_ROWS), pa.int64()),
        "g": pa.array(rng.integers(0, TX_GROUPS, TX_BASE_ROWS), pa.int32()),
        "v": pa.array(rng.integers(0, 10**6, TX_BASE_ROWS), pa.int64()),
    })
    cyc, ops, ks, gs, vs = [], [], [], [], []

    def emit(c, op, keys, groups, vals):
        cyc.extend([c] * len(keys))
        ops.extend([op] * len(keys))
        ks.extend(keys)
        gs.extend(groups)
        vs.extend(vals)

    def pick_live(n):
        chosen = set()
        while len(chosen) < n:
            if rng.random() < TX_RECENT_BIAS:
                lo = max(0, len(live) - TX_RECENT)
                k = live[int(rng.integers(lo, len(live)))]
            else:
                k = live[int(rng.integers(0, len(live)))]
            chosen.add(k)
        return sorted(chosen)

    for c in range(TX_CYCLES):
        hits = pick_live(int(TX_MERGE_ROWS * TX_MERGE_HIT))
        misses = list(range(next_key, next_key + TX_MERGE_ROWS - len(hits)))
        next_key += len(misses)
        mk = hits + misses
        emit(c, "merge", mk, rng.integers(0, TX_GROUPS, len(mk)).tolist(),
             rng.integers(0, 10**6, len(mk)).tolist())
        for k in misses:
            live.append(k)
            live_set.add(k)
        ak = list(range(next_key, next_key + TX_APPEND_ROWS))
        next_key += TX_APPEND_ROWS
        emit(c, "append", ak,
             rng.integers(0, TX_GROUPS, len(ak)).tolist(),
             rng.integers(0, 10**6, len(ak)).tolist())
        live.extend(ak)
        live_set.update(ak)
        emit(c, "read", [0], [int(rng.integers(0, TX_GROUPS))], [0])
        dk = pick_live(TX_DELETE_KEYS)
        emit(c, "delete", dk, [0] * len(dk), [0] * len(dk))
        gone = set(dk)
        live = [k for k in live if k not in gone]
        live_set -= gone
    ops_t = pa.table({
        "cycle": pa.array(cyc, pa.int32()),
        "op": ops,
        "k": pa.array(ks, pa.int64()),
        "g": pa.array(gs, pa.int32()),
        "v": pa.array(vs, pa.int64()),
    })
    pq.write_table(base, os.path.join(out_dir, "tx_base.parquet"))
    pq.write_table(ops_t, os.path.join(out_dir, "tx_ops.parquet"))
    return {"tx_base": base.num_rows, "tx_ops": ops_t.num_rows}


def tx_replay(base, ops, cycles):
    """In-memory replay of the first `cycles` cycles.

    Returns the final {k: (g, v)} map and, per cycle, the
    (group, count, sum) answer the read-after-write aggregate must give.
    `base` and `ops` are pyarrow tables as `tx` writes them.
    """
    state = dict(zip(base["k"].to_pylist(),
                     zip(base["g"].to_pylist(), base["v"].to_pylist())))
    reads = []
    cols = [ops[c].to_pylist() for c in ("cycle", "op", "k", "g", "v")]
    for c, op, k, g, v in zip(*cols):
        if c >= cycles:
            break
        if op in ("merge", "append"):
            state[k] = (g, v)
        elif op == "delete":
            del state[k]
        else:
            vals = [vv for gg, vv in state.values() if gg == g]
            reads.append((g, len(vals), sum(vals)))
    return state, reads


# ------------------------------------------------------------- index cycles

VOCAB = ("a the spark table query join merge scan sort hash group agg "
         "window filter stream batch vector column row key value line part "
         "order customer data fast slow big small index search token text "
         "doc rank score list probe log commit file").split()
IDX_BUILD_DOCS = 1500
IDX_CYCLES = 48
IDX_APPEND_DOCS = 60
IDX_QUERIES = 8              # BM25 queries per search batch
IDX_DIM = 32
IDX_BUILD_VECS = 1500
IDX_APPEND_VECS = 60
IDX_VEC_QUERIES = 8
IDX_CLUSTERS = 12


def index(seed, out_dir):
    """Documents, vectors and query batches for the index workload.

    `idx_docs.parquet` (doc_id, text, batch) and `idx_vecs.parquet`
    (vec_id, embedding, batch): batch 0 is built at set-up, batch i >= 1
    is appended in cycle i - 1. `idx_queries.parquet` (cycle, query_id,
    text) and `idx_vec_queries.parquet` (cycle, vec_id, embedding) hold
    each cycle's search batches.
    """
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    # Zipf-like word frequencies make posting lists of very unequal length
    w = 1.0 / np.arange(1, len(VOCAB) + 1)
    w /= w.sum()
    n_docs = IDX_BUILD_DOCS + IDX_CYCLES * IDX_APPEND_DOCS
    lens = rng.integers(8, 60, n_docs)
    texts = [" ".join(vocab[rng.choice(len(VOCAB), n, p=w)]) for n in lens]
    dbatch = np.concatenate([np.zeros(IDX_BUILD_DOCS, np.int32),
                             np.repeat(np.arange(1, IDX_CYCLES + 1),
                                       IDX_APPEND_DOCS).astype(np.int32)])
    docs = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                     "text": texts, "batch": pa.array(dbatch, pa.int32())})
    nq = IDX_CYCLES * IDX_QUERIES
    queries = pa.table({
        "cycle": pa.array(np.repeat(np.arange(IDX_CYCLES), IDX_QUERIES),
                          pa.int32()),
        "query_id": [f"q{i:04d}" for i in range(nq)],
        "text": [" ".join(vocab[rng.choice(len(VOCAB), int(n), replace=False)])
                 for n in rng.integers(1, 4, nq)],
    })

    centers = rng.normal(size=(IDX_CLUSTERS, IDX_DIM))

    def vectors(n):
        c = rng.integers(0, IDX_CLUSTERS, n)
        return (centers[c] + 0.35 * rng.normal(size=(n, IDX_DIM))) \
            .astype(np.float32)

    n_vecs = IDX_BUILD_VECS + IDX_CYCLES * IDX_APPEND_VECS
    vbatch = np.concatenate([np.zeros(IDX_BUILD_VECS, np.int32),
                             np.repeat(np.arange(1, IDX_CYCLES + 1),
                                       IDX_APPEND_VECS).astype(np.int32)])
    emb_t = pa.list_(pa.float32())
    vecs = pa.table({"vec_id": pa.array(np.arange(n_vecs), pa.int64()),
                     "embedding": pa.array(list(vectors(n_vecs)), emb_t),
                     "batch": pa.array(vbatch, pa.int32())})
    nvq = IDX_CYCLES * IDX_VEC_QUERIES
    vq = pa.table({
        "cycle": pa.array(np.repeat(np.arange(IDX_CYCLES), IDX_VEC_QUERIES),
                          pa.int32()),
        # query ids sit above every corpus id, so no query is its own hit
        "vec_id": pa.array(np.arange(nvq) + 10**9, pa.int64()),
        "embedding": pa.array(list(vectors(nvq)), emb_t),
    })
    for name, t in (("idx_docs", docs), ("idx_queries", queries),
                    ("idx_vecs", vecs), ("idx_vec_queries", vq)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"idx_docs": docs.num_rows, "idx_queries": queries.num_rows,
            "idx_vecs": vecs.num_rows, "idx_vec_queries": vq.num_rows}


GENERATORS = {
    "medallion_batch": medallion,
    "tx_upsert_cycle": tx,
    "operator_queries": tpch,
    "index_append_serve": index,
}
