"""Output checks, run after the timed region.

Each check returns a list of {"name", "ok", "detail"} entries. The
references are independent of the library: DuckDB SQL for the medallion
marts and the operator queries, an in-memory replay for the transaction
stream. The index checks run inside the JVM (they compare two library
paths against each other) and arrive in the record.
"""

import glob
import os

import duckdb
import pyarrow.parquet as pq

import gen

# The medallion, stage by stage, as SQL over the landing parquet.
MEDALLION_REF = """
CREATE VIEW b_gamelogs AS
SELECT season_id, player_id, game_id,
       strftime(strptime(game_date, '%b %d, %Y'), '%Y-%m-%d') AS game_date,
       matchup, wl, "min", fgm, fga, pts, reb, ast, video_available,
       player_name
FROM ld_gamelogs;
CREATE VIEW b_games AS
SELECT fecha, equipo, cuarto, jugador, titular, fg, fga, "3p", pts, "+/-",
       CAST(split_part(minutos, ':', 1) AS INTEGER) AS minutes_played,
       CAST(split_part(minutos, ':', 2) AS INTEGER) AS seconds_played
FROM ld_games;
CREATE VIEW b_season AS
SELECT DISTINCT player_id, season_id, team_id, team_abbreviation, player_age,
       gp, pts, player_name, team_name_current, team_city, position,
       CAST(strptime(birthdate, '%Y-%m-%dT%H:%M:%S') AS DATE) AS birthdate
FROM ld_season;
CREATE VIEW logs_gamesseason AS
SELECT gl.season_id, gl.player_id, gl.game_id, gl.game_date, gl.matchup,
       gl.wl AS game_result, gl."min" AS minutes,
       gl.fgm AS field_goals_made, gl.fga AS field_goals_attempted,
       gl.pts AS points, gl.reb AS rebounds, gl.ast AS assists,
       gl.player_name, ss.team_abbreviation, ss.team_name_current,
       ss.team_city, ss.position, ss.birthdate
FROM b_gamelogs gl LEFT JOIN b_season ss ON gl.player_name = ss.player_name;
CREATE VIEW games_teams AS
SELECT g.fecha AS game_date, g.equipo AS team_name, g.cuarto AS quarter,
       g.jugador AS player_name, g.titular AS player_role,
       g.minutes_played, g.seconds_played,
       g.minutes_played * 60 AS minutes_to_seconds,
       g.fg AS field_goals_made, g.fga AS field_goals_attempted,
       g."3p" AS three_point_field_goals_made, g.pts AS points,
       g."+/-" AS plus_minus, t.nametag, t.division, t.conference
FROM b_games g LEFT JOIN ld_teams t
  ON g.equipo = t.team AND year(CAST(g.fecha AS DATE)) = t.year;
CREATE VIEW games_season_teams AS
SELECT gt.*, s2.team_abbreviation, s2.position
FROM games_teams gt LEFT JOIN b_season s2
  ON gt.player_name = s2.player_name
 AND gt.team_name = concat_ws(' ', s2.team_city, s2.team_name_current);
CREATE VIEW player_gamesscore AS
SELECT player_name, team_name, game_date,
       sum(minutes_played) AS minutes_played,
       sum(seconds_played) AS seconds_played,
       sum(minutes_to_seconds) AS minutes_to_seconds,
       sum(field_goals_made) AS field_goals_made,
       sum(field_goals_attempted) AS field_goals_attempted,
       sum(three_point_field_goals_made) AS three_point_field_goals_made,
       sum(points) AS points, sum(plus_minus) AS plus_minus
FROM games_season_teams GROUP BY player_name, team_name, game_date;
CREATE VIEW teams_gamesscore AS
SELECT team_name, nametag, division, conference, game_date,
       sum(minutes_played) AS minutes_played,
       sum(seconds_played) AS seconds_played,
       sum(minutes_to_seconds) AS minutes_to_seconds,
       sum(field_goals_made) AS field_goals_made,
       sum(field_goals_attempted) AS field_goals_attempted,
       sum(three_point_field_goals_made) AS three_point_field_goals_made,
       sum(points) AS points, sum(plus_minus) AS plus_minus
FROM games_season_teams
GROUP BY team_name, nametag, division, conference, game_date;
CREATE VIEW player_resume AS
WITH logs AS (
  SELECT *, CAST(game_date AS DATE) AS d FROM logs_gamesseason),
latest AS (
  SELECT player_name, team_abbreviation AS latest_team,
         team_name_current AS latest_team_name
  FROM logs
  QUALIFY row_number() OVER (PARTITION BY player_name
                             ORDER BY d DESC, game_id DESC) = 1),
grouped AS (
  SELECT player_name, position,
         sum(points) AS total_points, sum(rebounds) AS total_rebounds,
         sum(assists) AS total_assists,
         sum(field_goals_made) AS total_field_goals_made,
         sum(field_goals_attempted) AS total_field_goals_attempted,
         CAST(sum(minutes) * 60 AS DOUBLE) AS total_seconds,
         count(DISTINCT d) AS games_played
  FROM logs GROUP BY player_name, position)
SELECT g.*, l.latest_team, l.latest_team_name
FROM grouped g LEFT JOIN latest l USING (player_name);
CREATE VIEW team_resume AS
SELECT team_name, nametag, division, conference,
       sum(points) AS total_points,
       sum(field_goals_made) AS total_field_goals_made,
       sum(three_point_field_goals_made) AS total_three_points_made,
       sum(plus_minus) AS total_plus_minus,
       count(DISTINCT game_date) AS games_played
FROM games_season_teams GROUP BY team_name, nametag, division, conference;
"""

MARTS = (("silver", "logs_gamesseason"), ("silver", "games_season_teams"),
         ("silver", "player_gamesscore"), ("silver", "teams_gamesscore"),
         ("gold", "player_resume"), ("gold", "team_resume"))


def _entry(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": detail}


def _same_rows(con, got, want):
    """Compare two relations by column names and multiset of rows."""
    gcols = con.sql(f"SELECT * FROM {got} LIMIT 0").columns
    wcols = con.sql(f"SELECT * FROM {want} LIMIT 0").columns
    if gcols != wcols:
        return False, f"columns {gcols} != {wcols}"
    n_got = con.sql(f"SELECT count(*) FROM {got}").fetchone()[0]
    n_want = con.sql(f"SELECT count(*) FROM {want}").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL "
                    f"SELECT * FROM {want})").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (SELECT * FROM {want} EXCEPT "
                      f"ALL SELECT * FROM {got})").fetchone()[0]
    ok = n_got == n_want and extra == 0 and missing == 0 and n_got > 0
    return ok, f"{n_got} rows vs {n_want}; {extra} unexpected, {missing} missing"


def medallion(lake):
    con = duckdb.connect()
    for t in ("ld_gamelogs", "ld_games", "ld_season", "ld_teams"):
        path = os.path.join(lake, "landing", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    con.execute(MEDALLION_REF)
    out = []
    for layer, t in MARTS:
        path = os.path.join(lake, layer, t, f"{t}.parquet")
        if not os.path.exists(path):
            out.append(_entry(f"{layer}.{t}", False, "no output file"))
            continue
        con.execute(f"CREATE VIEW out_{t} AS SELECT * FROM read_parquet('{path}')")
        ok, detail = _same_rows(con, f"out_{t}", t)
        out.append(_entry(f"{layer}.{t}", ok, detail))
    return out


def tx(data, record):
    units = len(record["units"])
    base = pq.read_table(os.path.join(data, "tx_base.parquet"))
    ops = pq.read_table(os.path.join(data, "tx_ops.parquet"))
    state, reads = gen.tx_replay(base, ops, units)
    final = pq.read_table(glob.glob(os.path.join(
        record["finish"]["final_snapshot"], "*.parquet")))
    got = dict(zip(final["k"].to_pylist(),
                   zip(final["g"].to_pylist(), final["v"].to_pylist())))
    same = got == state and len(got) == final.num_rows
    diff = len(set(got.items()) ^ set(state.items()))
    got_reads = [tuple(r) for r in record["finish"]["reads"]]
    bad_reads = sum(1 for a, b in zip(got_reads, reads) if tuple(a) != b)
    bad_reads += abs(len(got_reads) - len(reads))
    return [_entry("final_snapshot_equals_replay", same,
                   f"{final.num_rows} rows vs {len(state)}; {diff} differ"),
            _entry("reads_equal_replay", bad_reads == 0,
                   f"{len(got_reads)} reads, {bad_reads} differ")]


def queries(data, record):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    fin = record["finish"]
    out = []
    for name, sql in sorted(fin["oracle_sql"].items()):
        res = os.path.join(fin["query_results"], name, "*.parquet")
        try:
            con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM "
                        f"read_parquet('{res}')")
            con.execute(f"CREATE OR REPLACE VIEW want AS {sql}")
            g = con.sql("SELECT * FROM got LIMIT 0")
            w = con.sql("SELECT * FROM want LIMIT 0")
            gs = sorted(zip(g.columns, map(str, g.types)))
            ws = sorted(zip(w.columns, map(str, w.types)))
            if gs != ws:
                out.append(_entry(name, False, f"schema {gs} != {ws}"))
                continue
            cols = ", ".join(f'"{c}"' for c, _ in gs)
            con.execute(f"CREATE OR REPLACE VIEW g2 AS SELECT {cols} FROM got")
            con.execute(f"CREATE OR REPLACE VIEW w2 AS SELECT {cols} FROM want")
            ok, detail = _same_rows(con, "g2", "w2")
        except duckdb.Error as e:
            ok, detail = False, str(e)[:300]
        out.append(_entry(name, ok, detail))
    return out


def run(workload, data, record):
    fin = record.get("finish", {})
    if "error" in fin:
        return [_entry("finish", False, fin["error"])]
    if workload == "medallion_batch":
        return medallion(fin["lake"])
    if workload == "tx_upsert_cycle":
        return tx(data, record)
    if workload == "operator_queries":
        return queries(data, record)
    return fin["checks"]
