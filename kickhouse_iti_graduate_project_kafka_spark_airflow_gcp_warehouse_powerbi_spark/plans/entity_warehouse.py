"""The reference star schema on its real data model: 5 dims, 7 facts, hub view.

Re-expresses the ClickHouse warehouse DDL (ClickHouse Data Warehouse
Creation + Backfill DDLs.txt: dims 16-101, facts 115-226, MVs 229-439, hub
view 447-470) as DataFrame builders over validated entity frames. Each
builder is a pure function `dict[entity -> DataFrame] -> DataFrame`, shared
by the batch backfill and a foreachBatch stream into a parts table
(streaming/parts_stream.py) — one transform, two drivers.

Operator coverage: W1 soccer filter, W2 xxhash64 surrogate keys, W3 zero-FK
NULL-ing, W4 rename/projection, W5 league_ids array flattening, W6
timestamp fallback, W7 null-safe arithmetic, W8 multiIf media_type, W9
yes/no boolean, W10 ingest stamping, W11 month bucketing, J1-J3 sport
inheritance joins, A5/A6 latest-state, A7 anyLast channel dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import multi_if, null_if_zero_key, surrogate_key
from ..operators.latest import latest_per_key

#: W1 — every MV/backfill filters soccer rows this way (DDL 253 et al.)
def soccer_only(df: DataFrame, col: str = "strSport") -> DataFrame:
    return df.filter(F.lower(F.trim(F.col(col))) == "soccer")


def _stamp(df: DataFrame) -> DataFrame:
    """W10 — ingest timestamp on every warehouse row (DDL 251 et al.)."""
    return df.withColumn("updated_at", F.current_timestamp())


def _month(col: str) -> F.Column:
    """W11 — toYYYYMM partition column (DDL 144 et al.)."""
    return F.date_format(F.to_timestamp(col), "yyyyMM")


# ------------------------------------------------------------------ dims
def dim_league(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.dim_league (DDL 16-38, MV 236-253)."""
    return _stamp(
        soccer_only(bronze["league"]).select(
            surrogate_key("idLeague").alias("league_sk"),
            F.col("idLeague").cast("long").alias("idLeague"),
            F.col("strLeague").alias("league_name"),
            F.col("strCountry").alias("country"),
            F.col("strCurrentSeason").alias("current_season"),
            F.col("strGender").alias("gender"),
            F.col("strBadge").alias("badge_url"),  # W4 rename (DDL 248-250)
        )
    )


def dim_team(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.dim_team with the league_ids array flattening (DDL 40-58, W5 264)."""
    league_cols = ["idLeague"] + [f"idLeague{i}" for i in range(2, 8)]
    ids = F.array_compact(
        F.array(*[F.col(c).cast("long") for c in league_cols])
    )  # W5: [idLeague..idLeague7] minus NULLs
    return _stamp(
        soccer_only(bronze["team"]).select(
            surrogate_key("idTeam").alias("team_sk"),
            F.col("idTeam").cast("long").alias("idTeam"),
            F.col("strTeam").alias("team_name"),
            ids.alias("league_ids"),
            null_if_zero_key("idVenue").alias("venue_sk"),  # W3
            F.col("strCountry").alias("country"),
            F.col("intStadiumCapacity").cast("long").alias("stadium_capacity"),
        )
    )


def dim_player(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.dim_player — nested lookup_player fields hoisted (DDL 60-74)."""
    p = bronze["player"].filter(
        F.lower(F.trim(F.col("lookup_player.strSport"))) == "soccer"  # W1 nested
    )
    return _stamp(
        p.select(
            surrogate_key("idPlayer").alias("player_sk"),
            F.col("idPlayer").cast("long").alias("idPlayer"),
            null_if_zero_key("idTeam").alias("team_sk"),
            F.col("lookup_player.strPlayer").alias("player_name"),
            F.col("lookup_player.strPosition").alias("position"),
            F.col("lookup_player.strNationality").alias("nationality"),
            F.col("lookup_player.dateBorn").alias("date_born"),
        )
    )


def dim_venue(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.dim_venue (DDL 76-90)."""
    return _stamp(
        soccer_only(bronze["venue"]).select(
            surrogate_key("idVenue").alias("venue_sk"),
            F.col("idVenue").cast("long").alias("idVenue"),
            F.col("strVenue").alias("venue_name"),
            F.col("strLocation").alias("location"),
            F.col("strCountry").alias("country"),
            F.col("intCapacity").cast("long").alias("capacity"),
        )
    )


def dim_channel(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.dim_channel — A7 anyLast dedup over broadcast rows with
    idChannel != 0 (DDL 92-101, 313-324). max_by on ingested_at makes the
    reference's nondeterministic anyLast deterministic."""
    b = soccer_only(bronze["broadcast"]).filter(
        F.coalesce(F.col("idChannel").cast("long"), F.lit(0)) != 0
    )
    return _stamp(
        b.groupBy(F.col("idChannel").cast("long").alias("idChannel"))
        .agg(
            F.max_by("strChannel", "ingested_at").alias("channel_name"),
            F.max_by("strCountry", "ingested_at").alias("country"),
            F.max_by("strLogo", "ingested_at").alias("logo_url"),
        )
        .withColumn("channel_sk", surrogate_key("idChannel"))
    )


# ------------------------------------------------------------------ facts
def fact_event(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_event — latest-state per event (DDL 115-146, MV 327-347)."""
    e = soccer_only(bronze["event"])
    scheduled = F.coalesce(  # W6 timestamp fallback (DDL 341)
        F.to_timestamp("strTimestamp"), F.to_timestamp("dateEvent")
    )
    home = F.col("intHomeScore").cast("long")
    away = F.col("intAwayScore").cast("long")
    return _stamp(
        e.select(
            F.col("idEvent").cast("long").alias("idEvent"),
            surrogate_key("idLeague").alias("league_sk"),
            surrogate_key("idHomeTeam").alias("home_team_sk"),
            surrogate_key("idAwayTeam").alias("away_team_sk"),
            null_if_zero_key("idVenue").alias("venue_sk"),  # W3 (DDL 334)
            F.col("strStatus").alias("status"),
            home.alias("home_score"),
            away.alias("away_score"),
            (home + away).alias("total_score"),  # W7 null-propagating (DDL 364)
            scheduled.alias("scheduled_utc"),
            F.to_date(scheduled).alias("scheduled_date"),  # W13 alias (DDL 141)
            _month("dateEvent").alias("event_month"),  # W11 layout (DDL 144)
            F.col("ingested_at"),
        )
    )


def fact_event_latest(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.v_fact_event_latest — the argMax hub view (DDL 447-470), computed
    as one window pass over the append fact (A5/A6/WF2)."""
    return latest_per_key(fact_event(bronze), ["idEvent"], ["ingested_at", "updated_at"])


def fact_event_snapshot(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_event_snapshot — live-score time series (DDL 149-162)."""
    ls = soccer_only(bronze["live_score"])
    return _stamp(
        ls.select(
            F.col("idLiveScore").cast("long").alias("idLiveScore"),
            F.col("idEvent").cast("long").alias("idEvent"),
            surrogate_key("idLeague").alias("league_sk"),
            F.col("intHomeScore").cast("long").alias("home_score"),
            F.col("intAwayScore").cast("long").alias("away_score"),
            F.col("strStatus").alias("status"),
            F.col("strProgress").alias("progress"),
            F.to_timestamp(F.from_unixtime("ingested_at")).alias("snapshot_ts"),
        )
    )


def _sport_inherit_join(child: DataFrame, events: DataFrame) -> DataFrame:
    """J1-J3: stats/timeline/lineup carry no sport column — inner join the
    soccer-filtered event parent to inherit the W1 filter (DDL 369-414).
    The parent is pre-filtered AND pre-projected so the join input is
    minimal; broadcast when dimension-sized."""
    parents = events.select(F.col("idEvent").alias("__pe")).distinct()
    return child.join(parents, child["idEvent"] == F.col("__pe"), "inner").drop("__pe")


def fact_event_stat(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_event_stat (DDL 165-173, MV 369-379 with J1)."""
    stats = bronze["event.stats"]
    out = _sport_inherit_join(stats, soccer_only(bronze["event"]))
    return _stamp(
        out.select(
            F.col("idEvent").cast("long").alias("idEvent"),
            F.col("idStatistic").cast("long").alias("idStatistic"),
            F.col("strStat").alias("stat_name"),
            F.col("intHome").cast("long").alias("home_value"),
            F.col("intAway").cast("long").alias("away_value"),
        )
    )


def fact_timeline(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_timeline (DDL 176-191, MV 382-398 with J2); W12
    null-normalized minute for the sort key (DDL 191)."""
    tl = _sport_inherit_join(bronze["event.timeline"], soccer_only(bronze["event"]))
    return _stamp(
        tl.select(
            F.col("idTimeline").cast("long").alias("idTimeline"),
            F.col("idEvent").cast("long").alias("idEvent"),
            F.col("strTimeline").alias("timeline_type"),
            null_if_zero_key("idPlayer").alias("player_sk"),  # W3 (DDL 390)
            null_if_zero_key("idAssist").alias("assist_sk"),
            F.coalesce(F.col("intTime").cast("long"), F.lit(-1)).alias("minute_norm"),
        )
    )


def fact_lineup(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_lineup (DDL 194-205, MV 401-414 with J3); W9 yes/no boolean
    (DDL 409)."""
    lu = _sport_inherit_join(bronze["event.lineup"], soccer_only(bronze["event"]))
    return _stamp(
        lu.select(
            F.col("idLineup").cast("long").alias("idLineup"),
            F.col("idEvent").cast("long").alias("idEvent"),
            null_if_zero_key("idPlayer").alias("player_sk"),
            F.col("strPosition").alias("position"),
            F.when(F.lower(F.trim("strSubstitute")) == "yes", 1)
            .otherwise(0)
            .alias("is_substitute"),
        )
    )


def fact_broadcast(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_broadcast (DDL 208-216, MV 417-424)."""
    b = soccer_only(bronze["broadcast"])
    return _stamp(
        b.select(
            F.col("id").cast("long").alias("id"),
            F.col("idEvent").cast("long").alias("idEvent"),
            null_if_zero_key("idChannel").alias("channel_sk"),
            F.col("strCountry").alias("country"),
            F.coalesce(
                F.to_timestamp("strTimeStamp"), F.to_timestamp("dateEvent")
            ).alias("broadcast_utc"),
        )
    )


def fact_highlight(bronze: dict[str, DataFrame]) -> DataFrame:
    """dw.fact_highlight — W8 multiIf media_type + coalesce url
    (DDL 219-226, 433-437)."""
    h = soccer_only(bronze["event.highlights"])
    nonempty = lambda c: F.col(c).isNotNull() & (F.col(c) != "")  # noqa: E731
    return _stamp(
        h.select(
            F.col("idEvent").cast("long").alias("idEvent"),
            F.col("strFilename").alias("filename"),
            multi_if(
                (nonempty("strVideo"), "video"),
                (nonempty("strThumb"), "thumb"),
                (nonempty("strBanner"), "banner"),
                default="asset",
            ).alias("media_type"),
            F.coalesce("strVideo", "strThumb", "strBanner", F.lit("")).alias("url"),
        )
    )


DIM_BUILDERS = {
    "dim_league": dim_league,
    "dim_team": dim_team,
    "dim_player": dim_player,
    "dim_venue": dim_venue,
    "dim_channel": dim_channel,
}

FACT_BUILDERS = {
    "fact_event": fact_event,
    "fact_event_snapshot": fact_event_snapshot,
    "fact_event_stat": fact_event_stat,
    "fact_timeline": fact_timeline,
    "fact_lineup": fact_lineup,
    "fact_broadcast": fact_broadcast,
    "fact_highlight": fact_highlight,
}


def build_warehouse(bronze: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """All 5 dims + 7 facts + the hub view from validated bronze frames."""
    out = {name: fn(bronze) for name, fn in {**DIM_BUILDERS, **FACT_BUILDERS}.items()}
    out["v_fact_event_latest"] = fact_event_latest(bronze)
    return out
