"""Seeded generator for reference-layout IPL inputs (standard library only).

It runs before any JVM starts, so the benchmark's set-up time covers only
the program. Layout, as the reference scrapers leave it:

    <out>/raw/<match>/<match>-<n>.csv    one file per scrape of a match
    <out>/meta/<match>_meta.json          one JSON object per match
    <out>/players/players.jsonl           the player catalog

The vocabulary follows the hand-built fixture in tests/fixtures_ipl.py:
'5 wides', byes and leg byes whose runs sit in ``event_info``, no balls,
bowled/caught/lbw wickets, team-scoped typos of player names, and exact
duplicate rows from overlapping scrapes.

``live_events`` builds the live-update event script from the same seed:
each event is one scrape file to drop into the raw directory.
"""

from __future__ import annotations

import csv
import json
import os
import random

HEADER = [
    "match", "date", "time", "venue", "over", "ball", "bowler", "batsman",
    "ball_event", "event_info", "extract_time",
]
META_FIELDS = [
    "match", "short_name", "home_team", "away_team", "date", "time", "venue",
    "toss_winner", "toss_decision",
]

TEAMS = [
    ("Chennai Kings", "CK", "Chepauk Ground"),
    ("Mumbai Indians XI", "MI", "Wankhede Park"),
    ("Kolkata Riders", "KR", "Eden Oval"),
    ("Delhi Capitals XI", "DC", "Kotla Stadium"),
    ("Punjab Lions", "PL", "Mohali Arena"),
    ("Rajasthan Royals XI", "RR", "Sawai Ground"),
    ("Bangalore Challengers", "BC", "Chinnaswamy Park"),
    ("Hyderabad Risers", "HR", "Uppal Stadium"),
]
FIRST = [
    "Arjun", "Amit", "Ankit", "Bharat", "Bala", "Bhuvan", "Chetan", "Chirag",
    "Charan", "Deepak", "Dinesh", "Gaurav", "Harsh", "Ishan", "Jatin",
    "Karan", "Lokesh", "Manish", "Nitin", "Pranav", "Rahul", "Sanjay",
    "Tarun", "Varun", "Yash", "Rohit", "Shreyas", "Kunal",
]
LAST = [
    "Sharma", "Patel", "Verma", "Rao", "Iyer", "Das", "Kumar", "Mehta",
    "Singh", "Chahar", "Karthik", "Gill", "Pandya", "Kishan", "Saxena",
    "Nair", "Reddy", "Joshi", "Bhat", "Kohli", "Menon", "Pillai",
]
SQUAD = 13
MONTHS = ["Mar", "Apr", "May"]

# (ball_event, event_info, weight); wickets are drawn separately
EVENTS = [
    ("no run", "", 30), ("1 run", "", 30), ("2 runs", "", 8),
    ("3 runs", "", 1), ("four", "", 10), ("six", "over long on", 5),
    ("wide", "1 run; down leg", 3), ("5 wides", "swings away", 0.3),
    ("no ball", "no run", 1), ("no ball", "1 run", 0.5),
    ("byes", "2 runs; past keeper", 1), ("leg byes", "1 run; off the pad", 1.5),
]
RUNS = {
    "no run": 0, "1 run": 1, "2 runs": 2, "3 runs": 3, "four": 4, "six": 6,
    "wide": 2, "5 wides": 5, "no ball": 1, "byes": 2, "leg byes": 1,
}
WICKETS = ["out Bowled Middle stump!", "out Caught at mid on", "out Lbw plumb"]
WICKET_P = 0.045
TYPO_P = 0.04
DUP_P = 0.01
# a match is scraped SCRAPES times: after SCRAPE_ROWS rows, twice that,
# then in full (a T20 match has ~240 rows). Fixed row counts keep the
# size of a dropped file, and so write amplification, alike across seeds.
SCRAPES = 3
SCRAPE_ROWS = 80
NEW_MATCH_EVERY = 4  # live events: every fourth starts a new match


def _typo(rng: random.Random, name: str) -> str:
    """A scrape typo the fuzzy matcher must undo (score stays >= 75)."""
    first, _, last = name.partition(" ")
    i = rng.randrange(1, len(last))
    kind = rng.randrange(3)
    if kind == 0:  # doubled letter: "Patel" -> "Pattel"
        last = last[:i] + last[i - 1] + last[i:]
    elif kind == 1:  # dropped trailing letter: "Sharma" -> "Sharm"
        last = last[:-1]
    else:  # doubled trailing letter: "Sharma" -> "Sharmaa"
        last = last + last[-1]
    return f"{first} {last}"


def _squads(rng: random.Random) -> dict[str, list[str]]:
    names = [f"{f} {l}" for f in FIRST for l in LAST]
    rng.shuffle(names)
    return {
        team: names[k * SQUAD : (k + 1) * SQUAD]
        for k, (team, _, _) in enumerate(TEAMS)
    }


def _innings(rng, bat: list[str], bowl: list[str], target: int | None):
    """Ball-by-ball rows of one innings as (over, ball, bowler, batsman,
    event, info) tuples; ends on 20 overs, 10 wickets or a won chase."""
    rows, score, wickets = [], 0, 0
    pair, on_strike, next_in = [0, 1], 0, 2
    ev, wt = [e[:2] for e in EVENTS], [e[2] for e in EVENTS]
    for over in range(20):
        bowler = bowl[-1 - (over % 5)]
        ball = 1
        while ball <= 6:
            batsman = bat[pair[on_strike]]
            if rng.random() < WICKET_P:
                rows.append((over, ball, bowler, batsman, rng.choice(WICKETS), ""))
                wickets += 1
                if wickets == 10:
                    return rows, score
                pair[on_strike], next_in = next_in, next_in + 1
                ball += 1
                continue
            (event, info), = rng.choices(ev, wt)
            rebowl = event in ("wide", "no ball", "5 wides")
            if rebowl and (over, ball) == (19, 6):
                # an innings never ends on a re-bowled ball, so the next
                # innings' first ball starts a new innings in bronze
                event, info, rebowl = "1 run", "", False
            runs = RUNS[event] + (event == "no ball" and info == "1 run")
            rows.append((over, ball, bowler, batsman, event, info))
            score += runs
            if not rebowl:
                on_strike ^= runs % 2
                ball += 1
            if target is not None and score > target and not rebowl:
                return rows, score
        on_strike ^= 1
    return rows, score


def _match(rng, k: int, squads, home: int, away: int) -> tuple[dict, list[list]]:
    (ht, hs, venue), (at, as_, _) = TEAMS[home], TEAMS[away]
    short = f"{k + 1:03d}_{hs}vs{as_}"
    date = f"{MONTHS[k // 30 % 3]} {k % 28 + 1:02d}"
    toss = rng.choice([ht, at])
    decision = rng.choice(["bat", "field"])
    loser = at if toss == ht else ht
    first, second = (toss, loser) if decision == "bat" else (loser, toss)
    # the scraped meta sometimes carries a misspelt toss winner
    toss_scraped = toss[:-1] if rng.random() < 0.1 else toss
    meta = dict(zip(META_FIELDS, [
        f"Match {k + 1}", short, ht, at, date, "7:30", venue, toss_scraped, decision,
    ]))
    inn1, s1 = _innings(rng, squads[first], squads[second], None)
    inn2, _ = _innings(rng, squads[second], squads[first], s1)
    out, seq = [], 0
    for inn in (inn1, inn2):
        for over, ball, bowler, batsman, event, info in inn:
            if rng.random() < TYPO_P:
                batsman = _typo(rng, batsman)
            if rng.random() < TYPO_P:
                bowler = _typo(rng, bowler)
            seq += 1
            ts = f"2026-04-{k % 28 + 1:02d} {19 + seq // 3600:02d}:{seq // 60 % 60:02d}:{seq % 60:02d}.000000"
            row = [short, date, "7:30", venue, over, ball, bowler, batsman, event, info, ts]
            out.append(row)
            if rng.random() < DUP_P:
                out.append(list(row))
    return meta, out


def generate(seed: int, n_matches: int) -> tuple[list[dict], list[list[list]], list[dict]]:
    """Return (metas, per-match delivery rows, players) for ``seed``."""
    rng = random.Random(seed)
    squads = _squads(rng)
    metas, matches = [], []
    for k in range(n_matches):
        home, away = rng.sample(range(len(TEAMS)), 2)
        meta, rows = _match(rng, k, squads, home, away)
        metas.append(meta)
        matches.append(rows)
    players = [
        {"Name": n, "Team": team, "Country": "India", "Role": "Batter",
         "Keeper": False, "Batting Style": None, "Bowling Style": None, "Born": None}
        for team, names in squads.items() for n in names
    ]
    return metas, matches, players


def _write_csv(path: str, rows: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


def scrape(rows: list[list], n: int) -> list[list]:
    """What the ``n``-th scrape of a match holds: a prefix of its rows, all
    of them from the SCRAPES-th scrape on, so each rescrape overlaps the
    earlier files row for row."""
    return rows if n >= SCRAPES else rows[: n * SCRAPE_ROWS]


def write_inputs(out: str, seed: int, n_matches: int, backlog: int | None = None) -> dict:
    """Write raw scrapes, meta and players under ``out``.

    For batch inputs every match gets all SCRAPES scrapes. With
    ``backlog`` only the first ``backlog`` matches get a file, their
    first scrape; the rest arrive through ``live_events``. Meta covers
    every match. Returns the raw byte count and the data's size.
    """
    metas, matches, players = generate(seed, n_matches)
    os.makedirs(f"{out}/meta", exist_ok=True)
    for meta in metas:
        with open(f"{out}/meta/{meta['short_name']}_meta.json", "w") as f:
            json.dump(meta, f)
    os.makedirs(f"{out}/players", exist_ok=True)
    with open(f"{out}/players/players.jsonl", "w") as f:
        for p in players:
            f.write(json.dumps(p) + "\n")
    raw_bytes = 0
    live = matches if backlog is None else matches[:backlog]
    for meta, rows in zip(metas, live):
        m = meta["short_name"]
        for n in range(1, (SCRAPES if backlog is None else 1) + 1):
            path = f"{out}/raw/{m}/{m}-{n}.csv"
            _write_csv(path, scrape(rows, n))
            raw_bytes += os.path.getsize(path)
    return {"raw_bytes": raw_bytes, "matches": len(metas),
            "deliveries": sum(len(r) for r in matches)}


def live_events(seed: int, n_matches: int, backlog: int,
                n_events: int) -> list[tuple[str, str, list[list]]]:
    """The live-update script: ``n_events`` scrape files as
    (match, file name, rows). Every NEW_MATCH_EVERY-th event is the first
    scrape of a match past the backlog; the others rescrape the live
    matches in turn. The seed changes the matches, not the script's
    shape, so runs with different seeds drop comparable files.
    """
    metas, matches, _ = generate(seed, n_matches)
    scrapes = {k: 1 for k in range(backlog)}
    turn, events = 0, []
    for e in range(n_events):
        if e % NEW_MATCH_EVERY == NEW_MATCH_EVERY - 1 and len(scrapes) < n_matches:
            k = len(scrapes)
        else:
            k, turn = turn % len(scrapes), turn + 1
        scrapes[k] = scrapes.get(k, 0) + 1
        m = metas[k]["short_name"]
        events.append((m, f"{m}-{scrapes[k]}.csv", scrape(matches[k], scrapes[k])))
    return events


def write_event(stage: str, raw: str, event: tuple[str, str, list[list]]) -> tuple[str, int]:
    """Write one event's file under ``stage`` and return (staged path,
    size); the caller renames it into ``raw/<match>/`` atomically."""
    m, name, rows = event
    tmp = f"{stage}/{name}"
    _write_csv(tmp, rows)
    os.makedirs(f"{raw}/{m}", exist_ok=True)
    return tmp, os.path.getsize(tmp)
