"""Seeded raw-listings feed for the multi-day ``daily_load`` workload.

Writes, under one directory:

- ``raw/load_date=YYYYMMDD/part-0.parquet``: one partition per day, the
  layout of the reference's daily feed, so the pipelines read a day
  through a ``load_date`` partition-pruned scan;
- ``dims/{boards,states,zipcodes,property_sub_types}.parquet``.

Day 1 loads ``keys0`` fresh listings into empty stores. Every later
day carries ``rows_per_day`` rows in a fixed mix (``MIX``):

- ``new``: keys never seen before;
- ``update``: a newer ``source_as_of_date`` with a changed price or status;
- ``resend``: the key's latest version sent again unchanged;
- ``stale``: an older ``source_as_of_date`` with other values, so outdated;
- ``dup``: a second, older row for a key updated in the same batch;
- ``copy``: an exact copy of another row of the batch;
- ``reject``: a bad status, zip or board;
- ``moved``: an update sent under the retired board ``MLS_OLD``, which
  the boards dimension remaps (``movedto``) onto a live board.

MLS boards are Zipf-skewed. The generator keeps every key's latest
version, so updates always move forward in time and no two rows of
one batch tie on the pipelines' ordering columns: the latest pick is
unique, and an independent model can recompute every store.
Generation is plain NumPy/Arrow; the program under test only ever
sees the files.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOARDS = [f"MLS{i:02d}" for i in range(12)]
OLD_BOARD = "MLS_OLD"
OLD_BOARD_TARGET = BOARDS[3]
BAD_BOARD = "MLS_BAD"
STATES = [("CO", "Colorado"), ("TX", "Texas"), ("CA", "California"),
          ("NY", "New York"), ("FL", "Florida")]
ZIPS_PER_STATE = 8
SUB_TYPES = ["House", "Condo", "Townhouse", "Duplex", "Land"]
PROPERTY_TYPES = ["SF", "CO", "TH", "DU", "VL"]
STATUSES = ["A", "U", "S", "X"]
STREETS = ["Main St", "Oak Ave", "Pine Rd", "Elm St", "Cedar Ln", "Lake Dr"]
DAY0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
EPOCH_DAY0 = int(DAY0.timestamp())

# share of a later day's rows per category (sums to 1)
MIX = {
    "new": 0.30,
    "update": 0.26,
    "resend": 0.12,
    "stale": 0.10,
    "dup": 0.07,
    "copy": 0.03,
    "reject": 0.06,
    "moved": 0.06,
}

RAW_SCHEMA = pa.schema([
    ("mls", pa.string()),
    ("mls_listing_id", pa.string()),
    ("source_as_of_date", pa.timestamp("us", tz="UTC")),
    ("listing_date", pa.date32()),
    ("entry_date", pa.date32()),
    ("listing_status", pa.string()),
    ("current_price", pa.decimal128(16, 4)),
    ("closed_price", pa.decimal128(16, 4)),
    ("rent_sale", pa.string()),
    ("property_type", pa.string()),
    ("property_sub_type", pa.string()),
    ("state_raw", pa.string()),
    ("zip_raw", pa.string()),
    ("street_address_raw", pa.string()),
    ("city_raw", pa.string()),
    ("source_listing_id", pa.string()),
    ("owner_phone", pa.string()),
    ("listing_agent_phone", pa.string()),
    ("beds", pa.int32()),
    ("living_area_sq_ft", pa.decimal128(16, 4)),
    ("public_remarks", pa.string()),
    ("create_timestamp", pa.timestamp("us", tz="UTC")),
    ("asg_primary_id", pa.int64()),
    ("asg_primary_id_queried_ts", pa.timestamp("us", tz="UTC")),
])


def load_date(day: int) -> str:
    """``YYYYMMDD`` of 1-based ``day``."""
    return (DAY0 + datetime.timedelta(days=day - 1)).strftime("%Y%m%d")


@dataclass
class _Keys:
    """Per-key state of every valid listing generated so far."""

    board: np.ndarray  # index into BOARDS
    asof: np.ndarray  # latest source_as_of_date, epoch seconds
    price: np.ndarray  # latest current_price, whole dollars
    status: np.ndarray  # index into STATUSES
    zip_i: np.ndarray  # index into the zip list
    addr: np.ndarray  # street number


def _zipf_boards(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, len(BOARDS) + 1) ** 1.2
    return rng.choice(len(BOARDS), size=n, p=w / w.sum())


def _zips() -> list[tuple[str, str]]:
    return [
        (f"{10000 + 1000 * s + z:05d}", st)
        for s, (st, _) in enumerate(STATES)
        for z in range(ZIPS_PER_STATE)
    ]


def write_dims(out: str) -> None:
    d = os.path.join(out, "dims")
    os.makedirs(d, exist_ok=True)
    boards = BOARDS + [OLD_BOARD]
    pq.write_table(pa.table({
        "mls": boards,
        "movedto": [None] * len(BOARDS) + [OLD_BOARD_TARGET],
    }), f"{d}/boards.parquet")
    pq.write_table(pa.table({
        "state": [s for s, _ in STATES], "name": [n for _, n in STATES],
    }), f"{d}/states.parquet")
    zips = _zips()
    pq.write_table(pa.table({
        "zipcode": [z for z, _ in zips], "state": [s for _, s in zips],
    }), f"{d}/zipcodes.parquet")
    pq.write_table(pa.table({"property_sub_type": SUB_TYPES}),
                   f"{d}/property_sub_types.parquet")


def _rows(
    day: int,
    key: np.ndarray,
    board: list[str],
    asof: np.ndarray,
    price: np.ndarray,
    status: list[str],
    zip_i: np.ndarray,
    addr: np.ndarray,
) -> pa.Table:
    """One Arrow batch of raw rows; every array has one entry per row.

    A negative ``zip_i`` writes a zip code no dimension row knows.
    """
    n = len(key)
    zips = _zips()
    days_listed = (key % 300).astype("timedelta64[D]")
    listing = np.datetime64(DAY0.date()) - days_listed
    ts_type = pa.timestamp("us", tz="UTC")

    def ts(epoch_s: np.ndarray) -> pa.Array:
        return pa.array(np.asarray(epoch_s, np.int64) * 1_000_000).cast(ts_type)

    def dec(values: np.ndarray) -> pa.Array:
        return pa.array(np.asarray(values, np.int32)).cast(pa.decimal128(16, 4))

    ptype_i = key % len(PROPERTY_TYPES)
    return pa.table({
        "mls": board,
        "mls_listing_id": [f"L{k:09d}" for k in key],
        "source_as_of_date": ts(asof),
        "listing_date": pa.array(listing.astype("datetime64[D]")),
        "entry_date": pa.array((listing - np.timedelta64(3, "D"))
                               .astype("datetime64[D]")),
        "listing_status": status,
        "current_price": dec(price),
        "closed_price": pa.nulls(n, pa.decimal128(16, 4)),
        "rent_sale": np.where(key % 5 == 0, "Rental", "Sale").tolist(),
        "property_type": [PROPERTY_TYPES[i] for i in ptype_i],
        "property_sub_type": [SUB_TYPES[i] for i in ptype_i],
        "state_raw": [zips[abs(i) % len(zips)][1] for i in zip_i],
        "zip_raw": [zips[i][0] if i >= 0 else "99999" for i in zip_i],
        # padded: the transform trims every string column
        "street_address_raw": [f" {a} {STREETS[a % len(STREETS)]} " for a in addr],
        "city_raw": [f"City{a % 97}" for a in addr],
        "source_listing_id": [f"S{k}" for k in key],
        "owner_phone": [f"({300 + k % 600}) 555-{k % 10000:04d}" for k in key],
        "listing_agent_phone": [f"1-{200 + k % 700}-555-{k % 9000:04d} x{k % 9}"
                                for k in key],
        "beds": pa.array((key % 6 + 1).astype(np.int32)),
        "living_area_sq_ft": dec(600 + key % 4000),
        "public_remarks": [f"Listing {k} near {STREETS[k % len(STREETS)]}, "
                           f"{k % 6 + 1} beds." for k in key],
        "create_timestamp": ts(np.full(n, EPOCH_DAY0 + 86400 * (day - 1))),
        "asg_primary_id": pa.nulls(n, pa.int64()),
        "asg_primary_id_queried_ts": pa.nulls(n, ts_type),
    }, schema=RAW_SCHEMA)


def _write_day(out: str, day: int, table: pa.Table, rng: np.random.Generator) -> None:
    d = os.path.join(out, "raw", f"load_date={load_date(day)}")
    os.makedirs(d, exist_ok=True)
    # rows arrive in no particular order
    table = table.take(rng.permutation(table.num_rows))
    pq.write_table(table, f"{d}/part-0.parquet")


def generate(out: str, seed: int, keys0: int, rows_per_day: int, days: int) -> int:
    """Write ``days`` days of raw listings plus dims under ``out``.

    Returns the number of raw rows written.
    """
    rng = np.random.default_rng(seed)
    write_dims(out)
    n_zips = len(STATES) * ZIPS_PER_STATE
    st = _Keys(
        board=_zipf_boards(rng, keys0),
        asof=EPOCH_DAY0 + rng.integers(0, 86400, keys0),
        price=rng.integers(50_000, 2_000_000, keys0),
        status=rng.integers(0, len(STATUSES), keys0),
        zip_i=rng.integers(0, n_zips, keys0),
        addr=rng.integers(1, 9999, keys0),
    )
    total = keys0
    _write_day(out, 1, _rows(
        1, np.arange(keys0), [BOARDS[b] for b in st.board], st.asof,
        st.price, [STATUSES[s] for s in st.status], st.zip_i, st.addr,
    ), rng)
    for day in range(2, days + 1):
        day_start = EPOCH_DAY0 + 86400 * (day - 1)
        n_of = {c: int(round(rows_per_day * f)) for c, f in MIX.items()}
        n_keys = len(st.board)
        # disjoint existing keys for the categories that touch them;
        # moved rows only use keys of the remap target board
        picked = rng.permutation(n_keys)
        on_target = picked[st.board[picked] == BOARDS.index(OLD_BOARD_TARGET)]
        moved = on_target[: n_of["moved"]]
        rest = np.setdiff1d(picked, moved, assume_unique=True)
        rest = rest[rng.permutation(len(rest))]
        upd = rest[: n_of["update"]]
        resend = rest[len(upd): len(upd) + n_of["resend"]]
        stale = rest[len(upd) + len(resend): len(upd) + len(resend) + n_of["stale"]]
        new = np.arange(n_keys, n_keys + n_of["new"])
        parts = []

        # moved and update rows: newer as-of, new price, maybe status
        for keys, board_of in ((upd, None), (moved, OLD_BOARD)):
            asof = day_start + rng.integers(3600, 86400, len(keys))
            price = st.price[keys] + rng.integers(-20_000, 20_000, len(keys))
            price = np.maximum(price, 1_000)
            status = np.where(rng.random(len(keys)) < 0.3,
                              rng.integers(0, len(STATUSES), len(keys)),
                              st.status[keys])
            st.asof[keys], st.price[keys], st.status[keys] = asof, price, status
            boards = ([BOARDS[b] for b in st.board[keys]] if board_of is None
                      else [board_of] * len(keys))
            parts.append(_rows(day, keys, boards, asof, price,
                               [STATUSES[s] for s in status],
                               st.zip_i[keys], st.addr[keys]))
        # in-batch duplicates: an older row for some of today's updates
        dup = upd[: n_of["dup"]]
        parts.append(_rows(
            day, dup, [BOARDS[b] for b in st.board[dup]],
            st.asof[dup] - rng.integers(1, 3600, len(dup)),
            st.price[dup] + 500, [STATUSES[s] for s in st.status[dup]],
            st.zip_i[dup], st.addr[dup]))
        # unchanged re-sends of the latest version
        parts.append(_rows(
            day, resend, [BOARDS[b] for b in st.board[resend]],
            st.asof[resend], st.price[resend],
            [STATUSES[s] for s in st.status[resend]],
            st.zip_i[resend], st.addr[resend]))
        # stale rows: older than the latest version, other values
        parts.append(_rows(
            day, stale, [BOARDS[b] for b in st.board[stale]],
            st.asof[stale] - rng.integers(60, 86400 * 3, len(stale)),
            st.price[stale] + rng.integers(1_000, 9_000, len(stale)),
            [STATUSES[s] for s in rng.integers(0, len(STATUSES), len(stale))],
            st.zip_i[stale], st.addr[stale]))
        # new listings
        new_board = _zipf_boards(rng, len(new))
        new_asof = day_start + rng.integers(0, 86400, len(new))
        new_price = rng.integers(50_000, 2_000_000, len(new))
        new_status = rng.integers(0, len(STATUSES), len(new))
        new_zip = rng.integers(0, n_zips, len(new))
        new_addr = rng.integers(1, 9999, len(new))
        parts.append(_rows(day, new, [BOARDS[b] for b in new_board],
                           new_asof, new_price,
                           [STATUSES[s] for s in new_status], new_zip, new_addr))
        st = _Keys(
            board=np.concatenate([st.board, new_board]),
            asof=np.concatenate([st.asof, new_asof]),
            price=np.concatenate([st.price, new_price]),
            status=np.concatenate([st.status, new_status]),
            zip_i=np.concatenate([st.zip_i, new_zip]),
            addr=np.concatenate([st.addr, new_addr]),
        )
        # rejects: keys beyond every valid key, one broken rule each
        n_rej = n_of["reject"]
        rkeys = np.arange(10**8 + day * 10**6, 10**8 + day * 10**6 + n_rej)
        kind = np.arange(n_rej) % 3
        parts.append(_rows(
            day, rkeys,
            [BAD_BOARD if k == 2 else BOARDS[0] for k in kind],
            day_start + rng.integers(0, 86400, n_rej),
            rng.integers(50_000, 900_000, n_rej),
            ["Z" if k == 0 else "A" for k in kind],
            np.where(kind == 1, -1 - rng.integers(0, n_zips, n_rej),
                     rng.integers(0, n_zips, n_rej)),
            rng.integers(1, 9999, n_rej)))
        day_table = pa.concat_tables(parts)
        # exact copies of some rows: dropped by the exact-row dedup
        copies = day_table.take(rng.choice(day_table.num_rows, n_of["copy"],
                                           replace=False))
        day_table = pa.concat_tables([day_table, copies])
        total += day_table.num_rows
        _write_day(out, day, day_table, rng)
    return total
