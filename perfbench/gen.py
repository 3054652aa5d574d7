"""Seeded input generators for the benchmark workloads.

The seed is a benchmark argument; the program under test only ever
receives what these functions return. Everything here is plain Python
(no Spark), so the same seed gives byte-identical inputs on any host.
"""

from __future__ import annotations

import json
import os
import random

ENDPOINTS = ("agents", "weapons", "maps", "gamemodes")

# Natural key of each curated table: uuid where the table has one, the
# parent name plus position for the two child tables.
TABLE_KEYS = {
    "agents": ("uuid",),
    "abilities": ("agent_name", "slot"),
    "weapons": ("uuid",),
    "weapon_damage": ("weapon_name", "range_index"),
    "maps": ("uuid",),
    "gamemodes": ("uuid",),
}

# Records per endpoint, the size of the live API's payloads.
SIZES = {"agents": 28, "weapons": 19, "maps": 22, "gamemodes": 14}

# The guard cases of game_data_etl_pipeline_spark/etl/fixtures.py. Each
# appears once per endpoint, on a record the seed picks, so every seed
# loads the same number of rows and only contents vary.
GUARDS = {
    "agents": ("unplayable", "no_flag", "null_role", "long_desc", "null_abilities", "no_abilities"),
    "weapons": ("no_stats", "no_shop", "null_ranges"),
    "maps": ("null_callouts", "null_coordinates"),
    "gamemodes": ("no_duration", "no_timeouts_flag"),
}

_ROLES = ("Duelist", "Initiator", "Controller", "Sentinel")
_CATEGORIES = ("Rifle", "Sidearm", "SMG", "Shotgun", "Sniper", "Heavy", "Melee")
_SLOTS = ("Ability1", "Ability2", "Grenade", "Ultimate")
_PEN = ("Low", "Medium", "High")


def _agent(rng: random.Random, i: int, guard: str | None) -> dict:
    rec = {
        "uuid": f"agent-{i:03d}",
        "displayName": f"Agent {i:03d}",
        "isPlayableCharacter": True,
        "role": {"displayName": rng.choice(_ROLES)},
        "description": f"Agent {i} " + "lore " * rng.randint(5, 40),
        "displayIcon": f"https://img.example/agent-{i}.png",
        "abilities": [
            {"slot": s, "displayName": f"Skill {i}-{s}", "description": f"{s} of agent {i}."} for s in _SLOTS
        ],
    }
    if guard == "unplayable":
        rec["isPlayableCharacter"] = False
    elif guard == "no_flag":
        del rec["isPlayableCharacter"]
    elif guard == "null_role":
        rec["role"] = None
    elif guard == "long_desc":
        rec["description"] = "y" * rng.randint(501, 900)
    elif guard == "null_abilities":
        rec["abilities"] = None
    elif guard == "no_abilities":
        del rec["abilities"]
    return rec


def _weapon(rng: random.Random, i: int, guard: str | None) -> dict:
    ranges = []
    start = 0.0
    for _ in range(2):
        end = start + rng.choice((15.0, 20.0, 30.0))
        ranges.append(
            {
                "rangeStartMeters": start,
                "rangeEndMeters": end,
                "headDamage": float(rng.randint(100, 260)),
                "bodyDamage": float(rng.randint(25, 150)),
                "legDamage": float(rng.randint(20, 120)),
            }
        )
        start = end
    rec = {
        "uuid": f"weapon-{i:03d}",
        "displayName": f"Weapon {i:03d}",
        "category": "EEquippableCategory::" + rng.choice(_CATEGORIES),
        "displayIcon": f"https://img.example/weapon-{i}.png",
        "shopData": {"cost": rng.randint(1, 47) * 100},
        "weaponStats": {
            "fireRate": round(rng.uniform(0.5, 16.0), 2),
            "magazineSize": rng.randint(1, 100),
            "reloadTimeSeconds": round(rng.uniform(1.0, 5.0), 2),
            "equipTimeSeconds": round(rng.uniform(0.5, 1.5), 2),
            "firstBulletAccuracy": round(rng.uniform(0.1, 5.0), 2),
            "wallPenetration": "EWallPenetrationDisplayType::" + rng.choice(_PEN),
            "damageRanges": ranges,
        },
    }
    if guard == "no_stats":
        rec["weaponStats"] = None
    elif guard == "no_shop":
        rec["shopData"] = None
    elif guard == "null_ranges":
        rec["weaponStats"]["damageRanges"] = None
    return rec


def _map(rng: random.Random, i: int, guard: str | None) -> dict:
    return {
        "uuid": f"map-{i:03d}",
        "displayName": f"Map {i:03d}",
        "coordinates": None if guard == "null_coordinates" else f"{rng.randint(0, 89)}°N, {rng.randint(0, 179)}°E",
        "callouts": None if guard == "null_callouts" else [{"regionName": f"Zone {c}"} for c in range(rng.randint(5, 30))],
        "splash": f"https://img.example/map-{i}.png",
    }


def _gamemode(rng: random.Random, i: int, guard: str | None) -> dict:
    rec = {
        "uuid": f"mode-{i:03d}",
        "displayName": f"Mode {i:03d}",
        "duration": f"{rng.randint(5, 40)} minutes",
        "allowsMatchTimeouts": rng.random() < 0.5,
    }
    if guard == "no_duration":
        del rec["duration"]
    elif guard == "no_timeouts_flag":
        del rec["allowsMatchTimeouts"]
    return rec


_MAKERS = {"agents": _agent, "weapons": _weapon, "maps": _map, "gamemodes": _gamemode}


def api_records(seed: int) -> dict[str, list[dict]]:
    """Live-API-sized records per endpoint (SIZES), each guard case of
    the fixture module on one seeded record."""
    rng = random.Random(f"etl-{seed}")
    out = {}
    for ep, make in _MAKERS.items():
        guard_at = dict(zip(rng.sample(range(SIZES[ep]), len(GUARDS[ep])), GUARDS[ep]))
        out[ep] = [make(rng, i, guard_at.get(i)) for i in range(SIZES[ep])]
    return out


def write_envelopes(records: dict[str, list[dict]], dir_path: str) -> None:
    """One ``{endpoint}.json`` envelope per endpoint, the offline-extract
    layout ``Extractor`` reads."""
    os.makedirs(dir_path, exist_ok=True)
    for ep, recs in records.items():
        with open(os.path.join(dir_path, f"{ep}.json"), "w", encoding="utf-8") as f:
            json.dump({"status": 200, "data": recs}, f, sort_keys=True)


def expected_keys(records: dict[str, list[dict]]) -> dict[str, set[tuple]]:
    """Key set of every curated table after the documented filters:
    unplayable or unflagged agents are dropped, and null or missing
    arrays contribute no child rows."""
    playable = [a for a in records["agents"] if a.get("isPlayableCharacter")]
    damage = set()
    for w in records["weapons"]:
        ranges = (w.get("weaponStats") or {}).get("damageRanges") or []
        damage |= {(w["displayName"], i) for i in range(len(ranges))}
    return {
        "agents": {(a["uuid"],) for a in playable},
        "abilities": {(a["displayName"], ab["slot"]) for a in playable for ab in a.get("abilities") or []},
        "weapons": {(w["uuid"],) for w in records["weapons"]},
        "weapon_damage": damage,
        "maps": {(m["uuid"],) for m in records["maps"]},
        "gamemodes": {(g["uuid"],) for g in records["gamemodes"]},
    }


def query_batch(seed: int, index: int, vec_ids: list[int], vocab: list[str], size: int = 8) -> dict[int, tuple[str, ...]]:
    """Batch ``index`` of a run: ``size`` distinct seeded query vectors
    (ids drawn from ``vec_ids``), each with 3 distinct seeded terms from
    ``vocab``. The dict form is the one ``retrieval_pipeline_batch_ann``
    takes: query id = the query's ``vec_id``."""
    rng = random.Random(f"retrieval-{seed}-{index}")
    ids = rng.sample(sorted(vec_ids), size)
    terms = sorted(vocab)
    return {q: tuple(sorted(rng.sample(terms, 3))) for q in sorted(ids)}


def permutation(seed: int, index: int, names: list[str]) -> list[str]:
    """Pass ``index``'s seeded order of ``names``."""
    order = sorted(names)
    random.Random(f"order-{seed}-{index}").shuffle(order)
    return order
