"""Game-domain queries registered with the driver harness (M2/M3).

Each entry runs the Spark implementation on a literal fixture table
(FIXTURES.md §A — lifted from the reference's unit tests) and is
checked against a DuckDB oracle whose VALUES CTE comes from the same
fixture definition, so the two engines compute over identical inputs.
The oracles re-derive the rule semantics independently in SQL
(recursive CTEs for the BFS/connectivity parts), which makes them a
genuine second implementation, not an echo.

Queries are named `g_*` and excluded from bench.py (fixture-scale, not
data-scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_clone_spark.catalog import local_frame
from hive_clone_spark.hive_game import geometry
from hive_clone_spark.hive_game.board import corridor_ok_cols, occupancy, tops
from hive_clone_spark.hive_game.fixtures import (
    DIRECTIONS_CTE,
    FIXTURES,
    PIECES_SCHEMA,
    directions_df,
    pieces_df,
    pieces_values_cte,
)
from hive_clone_spark.hive_game.gameover import evaluate_game_over, queens_surrounded
from hive_clone_spark.hive_game.movegen import legal_moves
from hive_clone_spark.hive_game.placement import color_status, placement_targets, reserves
from hive_clone_spark.hive_game.state import add_piece, move_piece
from hive_clone_spark.registry import register

# ---------------------------------------------------------------------------
# Shared SQL snippets (parameterized by fixture / mover)
# ---------------------------------------------------------------------------


def _prelude(fixture: str, pid: int | None = None) -> str:
    """CTEs: directions, pieces, occ (+ mover/base when pid given)."""
    parts = [DIRECTIONS_CTE, pieces_values_cte(fixture)]
    parts.append(
        "occ AS (SELECT q, r, count(*) AS cnt FROM pieces WHERE on_board GROUP BY q, r)"
    )
    if pid is not None:
        parts.append(
            f"mover AS (SELECT piece_id, q AS fq, r AS fr, height AS h "
            f"FROM pieces WHERE piece_id = {pid})"
        )
        parts.append(
            "base AS (SELECT o.q, o.r FROM occ o, mover m "
            "WHERE o.cnt - (CASE WHEN o.q = m.fq AND o.r = m.fr THEN 1 ELSE 0 END) > 0)"
        )
    return ",\n ".join(parts)


_COMPONENTS = """
 comp_reach(sq, sr, tq, tr) AS (
   SELECT q, r, q, r FROM base
   UNION
   SELECT c.sq, c.sr, b.q, b.r FROM comp_reach c, directions d, base b
   WHERE b.q = c.tq + d.dq AND b.r = c.tr + d.dr
 ),
 comp AS (SELECT sq AS q, sr AS r, MIN(tq*10000 + tr) AS label
          FROM comp_reach GROUP BY sq, sr),
 ncomp AS (SELECT COUNT(DISTINCT label) AS n FROM comp)
"""

# One-Hive gate for a candidate (to_q, to_r): every component of the
# lifted board must contain or touch the destination.
_R6_PRED = """
  (SELECT COUNT(DISTINCT cp.label) FROM comp cp
   WHERE (cp.q = c.to_q AND cp.r = c.to_r)
      OR EXISTS (SELECT 1 FROM directions dd
                 WHERE cp.q = c.to_q + dd.dq AND cp.r = c.to_r + dd.dr))
  = (SELECT n FROM ncomp)
"""


def _empty(cq: str, cr: str) -> str:
    return f"NOT EXISTS (SELECT 1 FROM base b WHERE b.q = {cq} AND b.r = {cr})"


def _perimeter(cq: str, cr: str) -> str:
    return (
        f"EXISTS (SELECT 1 FROM base b, directions dn "
        f"WHERE b.q = {cq} + dn.dq AND b.r = {cr} + dn.dr)"
    )


def _corridor(cq: str, cr: str, dir_idx: str) -> str:
    """R5 corridor from (cq,cr) stepping along dir_idx (rules.cpp:50-59)."""
    return f"""NOT (
      EXISTS (SELECT 1 FROM base b, directions dl
              WHERE dl.dir_idx = ({dir_idx} + 5) % 6
                AND b.q = {cq} + dl.dq AND b.r = {cr} + dl.dr)
      AND EXISTS (SELECT 1 FROM base b, directions drr
              WHERE drr.dir_idx = ({dir_idx} + 1) % 6
                AND b.q = {cq} + drr.dq AND b.r = {cr} + drr.dr))"""


_MOVE_OUT = (
    "SELECT c.piece_id, c.fq AS from_q, c.fr AS from_r, c.to_q, c.to_r, "
    "{kind} AS kind, CAST({steps} AS INT) AS steps FROM cand c WHERE " + _R6_PRED
)


# ---------------------------------------------------------------------------
# R1/R2 — occupancy & stack height probes (rules.cpp:8-15)
# ---------------------------------------------------------------------------
@register(
    "g_occupied_stack_height",
    oracle=f"""
    WITH {_prelude("f8_stack")},
    probes(pq, pr) AS (VALUES (0,0), (1,0), (0,1))
    SELECT pq, pr,
      EXISTS (SELECT 1 FROM occ o WHERE o.q = pq AND o.r = pr) AS occupied,
      CAST(COALESCE((SELECT o.cnt - 1 FROM occ o WHERE o.q = pq AND o.r = pr), -1) AS INT)
        AS stack_height
    FROM probes ORDER BY pq, pr
    """,
)
def g_occupied_stack_height(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "f8_stack")
    occ = occupancy(pieces)
    probes = local_frame(spark, [(0, 0), (1, 0), (0, 1)], "pq INT, pr INT")
    return (
        probes.join(
            occ, (probes.pq == occ.q) & (probes.pr == occ.r), "left"
        )
        .select(
            "pq",
            "pr",
            F.col("cnt").isNotNull().alias("occupied"),
            (F.coalesce(F.col("cnt"), F.lit(0)) - 1).cast("int").alias("stack_height"),
        )
        .orderBy("pq", "pr")
    )


# ---------------------------------------------------------------------------
# stack tops (P4's core view; ui_app.cpp:541)
# ---------------------------------------------------------------------------
@register(
    "g_stack_tops",
    oracle=f"""
    WITH {_prelude("f7_beetle_on_top")}
    SELECT q, r, piece_id, bug, color FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q, r ORDER BY height DESC, piece_id DESC) AS rn
      FROM pieces WHERE on_board)
    WHERE rn = 1 ORDER BY q, r
    """,
)
def g_stack_tops(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "f7_beetle_on_top")
    return tops(pieces).select("q", "r", "piece_id", "bug", "color").orderBy("q", "r")


# ---------------------------------------------------------------------------
# R3 — queen surrounded (rules.cpp:17-38); own-color pieces count (quirk)
# ---------------------------------------------------------------------------
@register(
    "g_queen_surrounded",
    oracle=f"""
    WITH {_prelude("g1_queen_surrounded")}
    SELECT p.color,
      ((SELECT COUNT(*) FROM directions d
        WHERE EXISTS (SELECT 1 FROM occ o
                      WHERE o.q = p.q + d.dq AND o.r = p.r + d.dr)) = 6) AS surrounded
    FROM pieces p WHERE p.on_board AND p.bug = 'Queen'
    ORDER BY p.color
    """,
)
def g_queen_surrounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "g1_queen_surrounded")
    return queens_surrounded(spark, pieces).orderBy("color")


# ---------------------------------------------------------------------------
# R4 — game-over verdicts (rules.cpp:40-47)
# ---------------------------------------------------------------------------
def _game_over_oracle(fixture: str) -> str:
    return f"""
    WITH {_prelude(fixture)},
    s AS (
      SELECT p.color,
        ((SELECT COUNT(*) FROM directions d
          WHERE EXISTS (SELECT 1 FROM occ o
                        WHERE o.q = p.q + d.dq AND o.r = p.r + d.dr)) = 6) AS surrounded
      FROM pieces p WHERE p.on_board AND p.bug = 'Queen')
    SELECT CASE
      WHEN COALESCE(MAX(CASE WHEN color='White' THEN surrounded END), false)
       AND COALESCE(MAX(CASE WHEN color='Black' THEN surrounded END), false) THEN 'Draw'
      WHEN COALESCE(MAX(CASE WHEN color='White' THEN surrounded END), false) THEN 'BlackWins'
      WHEN COALESCE(MAX(CASE WHEN color='Black' THEN surrounded END), false) THEN 'WhiteWins'
      ELSE 'None' END AS verdict
    FROM s
    """


@register("g_game_over_blackwins", oracle=_game_over_oracle("g1_queen_surrounded"))
def g_game_over_blackwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluate_game_over(spark, pieces_df(spark, "g1_queen_surrounded"))


@register("g_game_over_draw", oracle=_game_over_oracle("g1b_both_surrounded"))
def g_game_over_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluate_game_over(spark, pieces_df(spark, "g1b_both_surrounded"))


# ---------------------------------------------------------------------------
# EP1-EP3 full-game terminal boards (ui_app.cpp:151-155,187-191): the
# fixtures are the end states of game.SCRIPT_BLACKWINS / SCRIPT_DRAW,
# which tests/test_game_integration.py replays ply-by-ply under full
# rule enforcement and asserts equal to these literals — so the driver
# row verifies the verdict of an actual complete game, not a posed
# position. Output joins the verdict with material accounting.
# ---------------------------------------------------------------------------
def _full_game_oracle(fixture: str) -> str:
    return f"""
    WITH {_prelude(fixture)},
    s AS (
      SELECT p.color,
        ((SELECT COUNT(*) FROM directions d
          WHERE EXISTS (SELECT 1 FROM occ o
                        WHERE o.q = p.q + d.dq AND o.r = p.r + d.dr)) = 6) AS surrounded
      FROM pieces p WHERE p.on_board AND p.bug = 'Queen'),
    v AS (
      SELECT CASE
        WHEN COALESCE(MAX(CASE WHEN color='White' THEN surrounded END), false)
         AND COALESCE(MAX(CASE WHEN color='Black' THEN surrounded END), false) THEN 'Draw'
        WHEN COALESCE(MAX(CASE WHEN color='White' THEN surrounded END), false) THEN 'BlackWins'
        WHEN COALESCE(MAX(CASE WHEN color='Black' THEN surrounded END), false) THEN 'WhiteWins'
        ELSE 'None' END AS verdict
      FROM s),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pieces,
        CAST(COUNT(*) FILTER (color = 'White') AS BIGINT) AS n_white,
        CAST(COUNT(*) FILTER (color = 'Black') AS BIGINT) AS n_black
      FROM pieces WHERE on_board)
    SELECT v.verdict, m.n_pieces, m.n_white, m.n_black FROM v, m
    """


def _full_game_summary(spark: SparkSession, fixture: str) -> DataFrame:
    board = pieces_df(spark, fixture)
    material = board.where(F.col("on_board")).agg(
        F.count("*").alias("n_pieces"),
        F.count(F.when(F.col("color") == "White", 1)).alias("n_white"),
        F.count(F.when(F.col("color") == "Black", 1)).alias("n_black"),
    )
    return evaluate_game_over(spark, board).crossJoin(material)


@register("g_full_game_blackwins", oracle=_full_game_oracle("g4_full_game_blackwins"))
def g_full_game_blackwins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _full_game_summary(spark, "g4_full_game_blackwins")


@register("g_full_game_draw", oracle=_full_game_oracle("g5_full_game_draw"))
def g_full_game_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _full_game_summary(spark, "g5_full_game_draw")


# ---------------------------------------------------------------------------
# R5 — corridor probes (rules.cpp:50-59) on the corridor-blocked fixture
# ---------------------------------------------------------------------------
@register(
    "g_can_slide",
    oracle=f"""
    WITH {_prelude("f7_beetle_on_top")},
    base AS (SELECT q, r FROM occ),
    c(dir_idx) AS (VALUES (0),(1),(2),(3),(4),(5))
    SELECT c.dir_idx, {_corridor("0", "0", "c.dir_idx")} AS corridor_ok
    FROM c ORDER BY c.dir_idx
    """,
)
def g_can_slide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone R5 from cell (0,0) in each direction, full-state
    occupancy (the flanks can never be the from-cell, so the lift
    adjustment in corridor_ok_cols never fires)."""
    pieces = pieces_df(spark, "f7_beetle_on_top")
    occ = occupancy(pieces)
    probes = local_frame(
        spark,
        [(i, 0, 0) for i in range(6)], "dir_idx INT, from_q INT, from_r INT"
    )
    out = corridor_ok_cols(probes, occ, "from_q", "from_r", "cs")
    return out.select("dir_idx", "corridor_ok").orderBy("dir_idx")


# ---------------------------------------------------------------------------
# R7 — queen moves on the lone-queen fixture (test_rules.cpp:20-25)
# ---------------------------------------------------------------------------
def _queen_oracle(fixture: str, pid: int) -> str:
    return f"""
    WITH RECURSIVE {_prelude(fixture, pid=pid)}, {_COMPONENTS},
    cand AS (
      SELECT m.piece_id, m.fq, m.fr,
             m.fq + d.dq AS to_q, m.fr + d.dr AS to_r, d.dir_idx
      FROM mover m, directions d
      WHERE {_empty("m.fq + d.dq", "m.fr + d.dr")}
        AND {_corridor("m.fq", "m.fr", "d.dir_idx")})
    {_MOVE_OUT.format(kind="'Slide'", steps=1)}
    ORDER BY to_q, to_r
    """


@register("g_queen_moves", oracle=_queen_oracle("f1_lone_queen", 0))
def g_queen_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f1_lone_queen"), 0).orderBy("to_q", "to_r")


# ---------------------------------------------------------------------------
# R8 — beetle: climb fixture (test_rules.cpp:126-139) and stacked
# corridor-exempt fixture (test_rules.cpp:141-162)
# ---------------------------------------------------------------------------
def _beetle_oracle(fixture: str, pid: int) -> str:
    return f"""
    WITH RECURSIVE {_prelude(fixture, pid=pid)}, {_COMPONENTS},
    cand0 AS (
      SELECT m.piece_id, m.fq, m.fr, m.h,
             m.fq + d.dq AS to_q, m.fr + d.dr AS to_r, d.dir_idx
      FROM mover m, directions d),
    cand AS (
      SELECT piece_id, fq, fr, to_q, to_r,
             (NOT {_empty("to_q", "to_r")}) AS dest_occ
      FROM cand0
      WHERE (NOT {_empty("to_q", "to_r")})
         OR h > 0
         OR {_corridor("fq", "fr", "dir_idx")})
    SELECT c.piece_id, c.fq AS from_q, c.fr AS from_r, c.to_q, c.to_r,
           CASE WHEN c.dest_occ THEN 'Climb' ELSE 'Slide' END AS kind,
           CAST(1 AS INT) AS steps
    FROM cand c WHERE {_R6_PRED}
    ORDER BY to_q, to_r
    """


@register("g_beetle_climb", oracle=_beetle_oracle("f6_beetle_climb", 0))
def g_beetle_climb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f6_beetle_climb"), 0).orderBy("to_q", "to_r")


@register("g_beetle_on_top", oracle=_beetle_oracle("f7_beetle_on_top", 1))
def g_beetle_on_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f7_beetle_on_top"), 1).orderBy("to_q", "to_r")


# ---------------------------------------------------------------------------
# R9 — grasshopper jump (test_rules.cpp:28-37)
# ---------------------------------------------------------------------------
def _grasshopper_oracle(fixture: str, pid: int) -> str:
    return f"""
    WITH RECURSIVE {_prelude(fixture, pid=pid)}, {_COMPONENTS},
    ks AS (SELECT u.k FROM UNNEST(generate_series(1, (SELECT COUNT(*) + 1 FROM base))) u(k)),
    ray AS (
      SELECT m.piece_id, m.fq, m.fr, d.dir_idx, ks.k,
             m.fq + d.dq * ks.k AS cq, m.fr + d.dr * ks.k AS cr
      FROM mover m, directions d, ks),
    land AS (
      SELECT piece_id, fq, fr, dir_idx, MIN(k) AS k_land
      FROM ray WHERE {_empty("ray.cq", "ray.cr")}
      GROUP BY piece_id, fq, fr, dir_idx HAVING MIN(k) >= 2),
    cand AS (
      SELECT l.piece_id, l.fq, l.fr,
             l.fq + d.dq * l.k_land AS to_q, l.fr + d.dr * l.k_land AS to_r
      FROM land l JOIN directions d ON d.dir_idx = l.dir_idx)
    {_MOVE_OUT.format(kind="'Jump'", steps=0)}
    ORDER BY to_q, to_r
    """


@register("g_grasshopper_moves", oracle=_grasshopper_oracle("f2_grasshopper", 0))
def g_grasshopper_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f2_grasshopper"), 0).orderBy("to_q", "to_r")


# ---------------------------------------------------------------------------
# R10 — ant BFS (test_rules.cpp:39-57, 59-92): recursive-CTE oracle
# ---------------------------------------------------------------------------
def _ant_oracle(fixture: str, pid: int) -> str:
    step_pred = (
        f"{_empty('a.cq + d.dq', 'a.cr + d.dr')} "
        f"AND {_perimeter('a.cq + d.dq', 'a.cr + d.dr')} "
        f"AND {_corridor('a.cq', 'a.cr', 'd.dir_idx')}"
    )
    seed_pred = (
        f"{_empty('m.fq + d.dq', 'm.fr + d.dr')} "
        f"AND {_perimeter('m.fq + d.dq', 'm.fr + d.dr')} "
        f"AND {_corridor('m.fq', 'm.fr', 'd.dir_idx')}"
    )
    return f"""
    WITH RECURSIVE {_prelude(fixture, pid=pid)}, {_COMPONENTS},
    reach(cq, cr) AS (
      SELECT m.fq + d.dq, m.fr + d.dr FROM mover m, directions d WHERE {seed_pred}
      UNION
      SELECT a.cq + d.dq, a.cr + d.dr FROM reach a, directions d WHERE {step_pred}
    ),
    cand AS (
      SELECT m.piece_id, m.fq, m.fr, a.cq AS to_q, a.cr AS to_r
      FROM reach a, mover m
      WHERE NOT (a.cq = m.fq AND a.cr = m.fr))
    {_MOVE_OUT.format(kind="'Slide'", steps=0)}
    ORDER BY to_q, to_r
    """


@register("g_ant_moves", oracle=_ant_oracle("f3_ant", 0))
def g_ant_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f3_ant"), 0).orderBy("to_q", "to_r")


@register("g_ant_perimeter", oracle=_ant_oracle("f4_ant_perimeter", 0))
def g_ant_perimeter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f4_ant_perimeter"), 0).orderBy("to_q", "to_r")


# ---------------------------------------------------------------------------
# R11 — spider exactly-3-step simple paths (test_rules.cpp:94-124)
# ---------------------------------------------------------------------------
def _spider_oracle(fixture: str, pid: int) -> str:
    return f"""
    WITH RECURSIVE {_prelude(fixture, pid=pid)}, {_COMPONENTS},
    s1 AS (
      SELECT m.piece_id, m.fq, m.fr, m.fq + d.dq AS c1q, m.fr + d.dr AS c1r
      FROM mover m, directions d
      WHERE {_empty("m.fq + d.dq", "m.fr + d.dr")}
        AND {_perimeter("m.fq + d.dq", "m.fr + d.dr")}
        AND {_corridor("m.fq", "m.fr", "d.dir_idx")}),
    s2 AS (
      SELECT s.*, s.c1q + d.dq AS c2q, s.c1r + d.dr AS c2r
      FROM s1 s, directions d
      WHERE {_empty("s.c1q + d.dq", "s.c1r + d.dr")}
        AND {_perimeter("s.c1q + d.dq", "s.c1r + d.dr")}
        AND {_corridor("s.c1q", "s.c1r", "d.dir_idx")}
        AND NOT (s.c1q + d.dq = s.fq AND s.c1r + d.dr = s.fr)),
    s3 AS (
      SELECT s.*, s.c2q + d.dq AS c3q, s.c2r + d.dr AS c3r
      FROM s2 s, directions d
      WHERE {_empty("s.c2q + d.dq", "s.c2r + d.dr")}
        AND {_perimeter("s.c2q + d.dq", "s.c2r + d.dr")}
        AND {_corridor("s.c2q", "s.c2r", "d.dir_idx")}
        AND NOT (s.c2q + d.dq = s.fq AND s.c2r + d.dr = s.fr)
        AND NOT (s.c2q + d.dq = s.c1q AND s.c2r + d.dr = s.c1r)),
    cand AS (
      SELECT DISTINCT piece_id, fq, fr, c3q AS to_q, c3r AS to_r FROM s3)
    {_MOVE_OUT.format(kind="'Slide'", steps=3)}
    ORDER BY to_q, to_r
    """


@register("g_spider_moves", oracle=_spider_oracle("f5_spider", 0))
def g_spider_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return legal_moves(spark, pieces_df(spark, "f5_spider"), 0).orderBy("to_q", "to_r")


# ---------------------------------------------------------------------------
# P1/P2/P3 — reserves & per-color status (ui_app.cpp:498-533)
# ---------------------------------------------------------------------------
@register(
    "g_reserves",
    oracle=f"""
    WITH {_prelude("g2_placement")},
    seed(color, bug, seeded) AS (VALUES
      ('White','Queen',1),('White','Spider',2),('White','Beetle',2),
      ('White','Grasshopper',3),('White','Ant',3),
      ('Black','Queen',1),('Black','Spider',2),('Black','Beetle',2),
      ('Black','Grasshopper',3),('Black','Ant',3)),
    placed AS (SELECT color, bug, COUNT(*) AS n FROM pieces WHERE on_board GROUP BY color, bug)
    SELECT s.color, s.bug,
           CAST(GREATEST(0, s.seeded - COALESCE(p.n, 0)) AS INT) AS remaining
    FROM seed s LEFT JOIN placed p ON s.color = p.color AND s.bug = p.bug
    ORDER BY s.color, s.bug
    """,
)
def g_reserves(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reserves(spark, pieces_df(spark, "g2_placement")).orderBy("color", "bug")


@register(
    "g_color_status",
    oracle=f"""
    WITH {_prelude("g2_placement")},
    seed(color, bug, seeded) AS (VALUES
      ('White','Queen',1),('White','Spider',2),('White','Beetle',2),
      ('White','Grasshopper',3),('White','Ant',3),
      ('Black','Queen',1),('Black','Spider',2),('Black','Beetle',2),
      ('Black','Grasshopper',3),('Black','Ant',3)),
    placed AS (SELECT color, bug, COUNT(*) AS n FROM pieces WHERE on_board GROUP BY color, bug),
    res AS (
      SELECT s.color, s.bug, GREATEST(0, s.seeded - COALESCE(p.n, 0)) AS remaining
      FROM seed s LEFT JOIN placed p ON s.color = p.color AND s.bug = p.bug)
    SELECT color,
           MAX(CASE WHEN bug = 'Queen' AND remaining = 0 THEN true ELSE false END) AS queen_placed,
           CAST(11 - SUM(remaining) AS INT) AS placements_made
    FROM res GROUP BY color ORDER BY color
    """,
)
def g_color_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return color_status(spark, pieces_df(spark, "g2_placement")).orderBy("color")


# ---------------------------------------------------------------------------
# P6 — placement targets (ui_app.cpp:553-587), three regimes
# ---------------------------------------------------------------------------
@register(
    "g_placement_empty_board",
    oracle="SELECT CAST(0 AS INT) AS to_q, CAST(0 AS INT) AS to_r",
)
def g_placement_empty_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    empty = local_frame(spark, [], PIECES_SCHEMA)
    return placement_targets(spark, empty, "White")


@register(
    "g_placement_first_of_color",
    oracle=f"""
    WITH {_prelude("f1_lone_queen")}
    SELECT DISTINCT o.q + d.dq AS to_q, o.r + d.dr AS to_r
    FROM occ o, directions d
    WHERE NOT EXISTS (SELECT 1 FROM occ o2
                      WHERE o2.q = o.q + d.dq AND o2.r = o.r + d.dr)
    ORDER BY to_q, to_r
    """,
)
def g_placement_first_of_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Black's first placement: opponent adjacency NOT enforced
    # (quirk preserved, ui_app.cpp:576-578)
    return placement_targets(spark, pieces_df(spark, "f1_lone_queen"), "Black").orderBy(
        "to_q", "to_r"
    )


@register(
    "g_placement_targets",
    oracle=f"""
    WITH {_prelude("g2_placement")},
    tops AS (
      SELECT q, r, color FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q, r ORDER BY height DESC, piece_id DESC) AS rn
        FROM pieces WHERE on_board) WHERE rn = 1),
    cands AS (
      SELECT DISTINCT o.q + d.dq AS to_q, o.r + d.dr AS to_r
      FROM occ o, directions d
      WHERE NOT EXISTS (SELECT 1 FROM occ o2
                        WHERE o2.q = o.q + d.dq AND o2.r = o.r + d.dr))
    SELECT c.to_q, c.to_r FROM cands c
    WHERE EXISTS (SELECT 1 FROM tops t, directions d
                  WHERE t.q = c.to_q + d.dq AND t.r = c.to_r + d.dr AND t.color = 'White')
      AND NOT EXISTS (SELECT 1 FROM tops t, directions d
                  WHERE t.q = c.to_q + d.dq AND t.r = c.to_r + d.dr AND t.color <> 'White')
    ORDER BY to_q, to_r
    """,
)
def g_placement_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # White's later placement: touch own top color, avoid opponent tops
    return placement_targets(spark, pieces_df(spark, "g2_placement"), "White").orderBy(
        "to_q", "to_r"
    )


# ---------------------------------------------------------------------------
# E1/E2 — state transitions with window renumbering (engine.cpp:8-36)
# ---------------------------------------------------------------------------
@register(
    "g_add_piece",
    oracle=f"""
    WITH {DIRECTIONS_CTE}, {pieces_values_cte("f1_lone_queen")},
    added AS (
      SELECT * FROM pieces
      UNION ALL SELECT 1, 'Beetle', 'Black', true, 0, 0, 1000000)
    SELECT piece_id, bug, color, on_board, q, r,
           CAST(ROW_NUMBER() OVER (PARTITION BY on_board, q, r ORDER BY height, piece_id) - 1 AS INT) AS height
    FROM added ORDER BY piece_id
    """,
)
def g_add_piece(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "f1_lone_queen")
    return add_piece(spark, pieces, 1, "Beetle", "Black", 0, 0).orderBy("piece_id")


@register(
    "g_move_piece",
    oracle=f"""
    WITH {DIRECTIONS_CTE}, {pieces_values_cte("f8_stack")},
    moved AS (
      SELECT piece_id, bug, color, true AS on_board, 1 AS q, 0 AS r, 1000000 AS height
      FROM pieces WHERE piece_id = 1),
    allp AS (SELECT * FROM pieces WHERE piece_id <> 1 UNION ALL SELECT * FROM moved)
    SELECT piece_id, bug, color, on_board, q, r,
           CAST(ROW_NUMBER() OVER (PARTITION BY on_board, q, r ORDER BY height, piece_id) - 1 AS INT) AS height
    FROM allp ORDER BY piece_id
    """,
)
def g_move_piece(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "f8_stack")
    return move_piece(pieces, 1, 1, 0).orderBy("piece_id")


# ---------------------------------------------------------------------------
# F5/F6 — pixel projection + cube-rounding roundtrip (engine.cpp:38-43,
# ui_app.cpp:34-50)
# ---------------------------------------------------------------------------
@register(
    "g_pixel_roundtrip",
    oracle=f"""
    WITH {_prelude("f4_ant_perimeter")},
    px AS (
      SELECT q, r,
             CAST(40.0 AS DOUBLE) * (sqrt(3.0) * q + sqrt(3.0) / 2 * r) AS fx,
             CAST(60.0 AS DOUBLE) * r AS fy
      FROM pieces),
    frac AS (
      SELECT q, r, fx, fy,
             (sqrt(3.0) / 3.0 * fx - fy / 3.0) / 40.0 AS xf,
             (2.0 / 3.0 * fy) / 40.0 AS zf
      FROM px),
    cube AS (
      SELECT q, r, fx, fy, xf, zf, -xf - zf AS yf,
             round(xf) AS rx, round(-xf - zf) AS ry, round(zf) AS rz
      FROM frac),
    fixed AS (
      SELECT q, r, fx, fy,
        CASE WHEN abs(rx - xf) > abs(ry - yf) AND abs(rx - xf) > abs(rz - zf)
             THEN -ry - rz ELSE rx END AS rxf,
        CASE WHEN NOT (abs(rx - xf) > abs(ry - yf) AND abs(rx - xf) > abs(rz - zf))
                  AND abs(ry - yf) <= abs(rz - zf)
             THEN -rx - ry ELSE rz END AS rzf
      FROM cube)
    SELECT q, r, round(fx, 4) AS px, round(fy, 4) AS py,
           CAST(rxf AS INT) AS rq, CAST(rzf AS INT) AS rr
    FROM fixed ORDER BY q, r
    """,
)
def g_pixel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pieces = pieces_df(spark, "f4_ant_perimeter")
    px, py = geometry.axial_to_pixel(F.col("q"), F.col("r"))
    out = pieces.select("q", "r", px.alias("fx"), py.alias("fy"))
    rq, rr = geometry.pixel_to_axial(F.col("fx"), F.col("fy"))
    return (
        out.select(
            "q",
            "r",
            F.round("fx", 4).alias("px"),
            F.round("fy", 4).alias("py"),
            rq.alias("rq"),
            rr.alias("rr"),
        )
        .orderBy("q", "r")
    )


# ---------------------------------------------------------------------------
# R12 — legalMovesForPiece dispatch (rules.cpp:334-344) over ALL pieces
# of a fixture in one plan (the batched scale path). The oracle is the
# same dispatch expressed in SQL: for every movable (top-of-stack)
# piece of the fixture, the matching per-bug oracle CTE, UNION ALL'd —
# so the umbrella entry carries the full hash gate, not just its five
# branches individually.
# ---------------------------------------------------------------------------
_BUG_ORACLES = {
    "Queen": _queen_oracle,
    "Beetle": _beetle_oracle,
    "Grasshopper": _grasshopper_oracle,
    "Ant": _ant_oracle,
    "Spider": _spider_oracle,
}


def _legal_all_oracle(fixture: str) -> str:
    rows = FIXTURES[fixture]
    # movers = top-of-stack pieces (mirrors movers_view): max height per cell
    top = {}
    for pid, bug, color, q, r, h in rows:
        if (q, r) not in top or h > top[(q, r)][1]:
            top[(q, r)] = (pid, h)
    movers = sorted(pid for pid, _ in top.values())
    by_id = {pid: bug for pid, bug, *_ in rows}
    parts = [
        f"SELECT * FROM ({_BUG_ORACLES[by_id[pid]](fixture, pid).strip()})"
        for pid in movers
    ]
    return "\nUNION ALL\n".join(parts) + "\nORDER BY piece_id, to_q, to_r, kind, steps"


@register("g_legal_moves_all", oracle=_legal_all_oracle("f4_ant_perimeter"))
def g_legal_moves_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_clone_spark.hive_game.movegen import legal_moves_all

    pieces = pieces_df(spark, "f4_ant_perimeter")
    return legal_moves_all(spark, pieces).orderBy(
        "piece_id", "to_q", "to_r", "kind", "steps"
    )


# ---------------------------------------------------------------------------
# S2 — countdown timers (ui_app.cpp:301-308): the two overlay timers
# decrement 1/60 s per frame and clamp at 0. Expressed as event-time
# column math over a generated frame axis — the set-oriented form of
# the reference's per-frame mutation, and the exact arithmetic a
# streaming micro-batch would apply per trigger. Output: per (timer,
# frame) the remaining seconds and the active flag.
# ---------------------------------------------------------------------------
_TIMERS = [("move_before_queen", 0.8), ("queen_warning", 1.5)]
_TIMER_FRAMES = 120  # 2 s of simulated frames at the 60 FPS cap


@register(
    "g_timer_countdown",
    oracle=f"""
    WITH timers(name, start_sec) AS (VALUES
      {", ".join(f"('{n}', {v})" for n, v in _TIMERS)}),
    f AS (SELECT u.frame FROM
          UNNEST(generate_series(0, {_TIMER_FRAMES - 1})) u(frame))
    SELECT t.name, CAST(f.frame AS INT) AS frame,
      ROUND(GREATEST(CAST(t.start_sec AS DOUBLE) - f.frame / 60.0, 0.0), 6)
        AS remaining_sec,
      (CAST(t.start_sec AS DOUBLE) - f.frame / 60.0) > 0.0 AS active
    FROM timers t, f
    ORDER BY t.name, frame
    """,
)
def g_timer_countdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    timers = local_frame(spark, _TIMERS, "name STRING, start_sec DOUBLE")
    frames = timers.select(
        "name",
        "start_sec",
        F.explode(F.sequence(F.lit(0), F.lit(_TIMER_FRAMES - 1))).alias("frame"),
    )
    remaining = F.col("start_sec") - F.col("frame") / F.lit(60.0)
    return frames.select(
        "name",
        F.col("frame").cast("int").alias("frame"),
        F.round(F.greatest(remaining, F.lit(0.0)), 6).alias("remaining_sec"),
        (remaining > 0.0).alias("active"),
    ).orderBy("name", "frame")
