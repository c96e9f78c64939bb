"""Game-domain fixtures (FIXTURES.md §A, lifted from the reference's
unit tests) as a single source of truth for both the Spark DataFrames
and the VALUES-CTE used by the DuckDB oracles.

Row shape: (piece_id, bug, color, q, r, height); on_board is always
True for fixture rows (reserves are modeled separately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_clone_spark.catalog import local_frame

PIECES_SCHEMA = (
    "piece_id INT, bug STRING, color STRING, on_board BOOLEAN, "
    "q INT, r INT, height INT"
)

# fixture name -> list of (piece_id, bug, color, q, r, height)
FIXTURES: dict[str, list[tuple[int, str, str, int, int, int]]] = {
    # F1 — lone queen (test_rules.cpp:20-25)
    "f1_lone_queen": [(0, "Queen", "White", 0, 0, 0)],
    # F2 — grasshopper jump (test_rules.cpp:28-37)
    "f2_grasshopper": [
        (0, "Grasshopper", "White", 0, 0, 0),
        (1, "Ant", "Black", 1, 0, 0),
        (2, "Ant", "Black", 2, -1, 0),
    ],
    # F3 — ant slides (test_rules.cpp:39-57)
    "f3_ant": [
        (0, "Ant", "White", 0, 0, 0),
        (1, "Queen", "White", 1, 0, 0),
        (2, "Grasshopper", "Black", 0, 1, 0),
        (3, "Spider", "Black", -1, 1, 0),
    ],
    # F4 — ant perimeter-bounded (test_rules.cpp:59-92)
    "f4_ant_perimeter": [
        (0, "Ant", "White", 0, 0, 0),
        (1, "Queen", "White", 1, 0, 0),
        (2, "Grasshopper", "Black", 0, 1, 0),
        (3, "Spider", "Black", -1, 1, 0),
        (4, "Spider", "White", 1, -1, 0),
    ],
    # F5 — spider exactly three steps (test_rules.cpp:94-124)
    "f5_spider": [
        (0, "Spider", "White", 0, 0, 0),
        (1, "Queen", "White", 1, 0, 0),
        (2, "Ant", "Black", 0, 1, 0),
        (3, "Grasshopper", "Black", -1, 1, 0),
        (4, "Ant", "White", 1, -1, 0),
    ],
    # F6 — beetle climbs (test_rules.cpp:126-139)
    "f6_beetle_climb": [
        (0, "Beetle", "White", 0, 0, 0),
        (1, "Queen", "Black", 1, 0, 0),
    ],
    # F7 — beetle on top ignores corridor (test_rules.cpp:141-162)
    "f7_beetle_on_top": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Beetle", "White", 0, 0, 1),
        (2, "Ant", "Black", 0, 1, 0),
        (3, "Ant", "Black", 1, -1, 0),
    ],
    # F8 — stacking (test_engine.cpp:12-18)
    "f8_stack": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Beetle", "Black", 0, 0, 1),
    ],
    # G1 — queen surrounded (gap-closer; rules.cpp:17-47)
    "g1_queen_surrounded": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Ant", "Black", 1, 0, 0),
        (2, "Ant", "Black", 1, -1, 0),
        (3, "Ant", "Black", 0, -1, 0),
        (4, "Ant", "White", -1, 0, 0),
        (5, "Ant", "White", -1, 1, 0),
        (6, "Ant", "White", 0, 1, 0),
        (7, "Queen", "Black", 2, 0, 0),
    ],
    # G1b — both queens surrounded → Draw
    "g1b_both_surrounded": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Queen", "Black", 1, 0, 0),
        (2, "Ant", "Black", 1, -1, 0),
        (3, "Ant", "Black", 0, -1, 0),
        (4, "Ant", "White", -1, 0, 0),
        (5, "Ant", "White", -1, 1, 0),
        (6, "Ant", "White", 0, 1, 0),
        (7, "Ant", "Black", 2, -1, 0),
        (8, "Ant", "White", 2, 0, 0),
        (9, "Ant", "Black", 1, 1, 0),
    ],
    # G2 — placement scenario: White at origin, Black ant placed next
    "g2_placement": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Ant", "Black", 1, 0, 0),
    ],
    # G4 — terminal board of game.SCRIPT_BLACKWINS: the full-game
    # integration test REPLAYS the script through the EP1-EP3 lifecycle
    # and asserts the final board equals this literal, so the driver
    # entry over it is anchored to an actual rules-checked game.
    "g4_full_game_blackwins": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Queen", "Black", 1, 0, 0),
        (2, "Ant", "White", -1, 0, 0),
        (3, "Ant", "Black", 1, -1, 0),
        (4, "Ant", "White", 0, -1, 0),
        (5, "Ant", "White", -1, 1, 0),
        (6, "Ant", "Black", 0, 1, 0),
        (7, "Beetle", "White", -2, 0, 0),
    ],
    # G5 — terminal board of game.SCRIPT_DRAW (same anchoring)
    "g5_full_game_draw": [
        (0, "Queen", "White", 0, 0, 0),
        (1, "Queen", "Black", 1, 0, 0),
        (2, "Ant", "White", -1, 0, 0),
        (3, "Ant", "Black", 2, 0, 0),
        (4, "Ant", "White", 0, -1, 0),
        (5, "Ant", "Black", 2, -1, 0),
        (6, "Ant", "White", -1, 1, 0),
        (7, "Grasshopper", "Black", 1, 1, 0),
        (8, "Beetle", "White", 1, -1, 0),
        (9, "Ant", "Black", 0, 1, 0),
    ],
}


def pieces_df(spark: SparkSession, fixture: str) -> DataFrame:
    """Fixture as a `pieces` DataFrame (SURVEY.md §1 canonical schema)."""
    rows = [
        (pid, bug, color, True, q, r, h) for pid, bug, color, q, r, h in FIXTURES[fixture]
    ]
    return local_frame(spark, rows, PIECES_SCHEMA)


def pieces_values_cte(fixture: str) -> str:
    """The same fixture as a DuckDB VALUES CTE body named `pieces`."""
    rows = ", ".join(
        f"({pid}, '{bug}', '{color}', true, {q}, {r}, {h})"
        for pid, bug, color, q, r, h in FIXTURES[fixture]
    )
    return (
        "pieces(piece_id, bug, color, on_board, q, r, height) AS (VALUES "
        + rows
        + ")"
    )


# The 6 axial hex directions (reference engine.hpp:25-28; order matters
# for the corridor rule's (i±1)%6 flank computation, rules.cpp:54-55).
DIRECTIONS: list[tuple[int, int, int]] = [
    (0, 1, 0),
    (1, 1, -1),
    (2, 0, -1),
    (3, -1, 0),
    (4, -1, 1),
    (5, 0, 1),
]

DIRECTIONS_CTE = (
    "directions(dir_idx, dq, dr) AS (VALUES "
    + ", ".join(f"({i}, {dq}, {dr})" for i, dq, dr in DIRECTIONS)
    + ")"
)


def directions_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, DIRECTIONS, "dir_idx INT, dq INT, dr INT")
