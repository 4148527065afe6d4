"""Deterministic delta ticks for the ETL workload, generated in plain Python.

A tick is one batch of new OLTP rows, appended to bronze before a
``track_deltas`` cycle. It has two parts:

* a reference-shaped batch: one new advertiser with two new campaigns and
  ``REF_IMPRESSIONS`` impressions on the first one, clicked at ``REF_CTR``;
* ``SPREAD_IMPRESSIONS`` impressions spread over ``SPREAD_FRAC`` of the
  lake's existing campaigns, clicked at ``SPREAD_CTR``.

Every event of tick ``k`` is stamped inside ``[T_k, T_k + 50 min)`` (clicks
up to 120 s later), with ``T_k`` one hour after ``T_{k-1}`` and the first
tick a week after the generator's ``BASE_DATE`` -- after every event of the
generated lake. High-watermark change detection only sees rows whose
timestamp advances their key's maximum, so a tick stamped earlier would
make its cycle a no-op.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass
from decimal import Decimal

TABLES = ("advertiser", "campaign", "impressions", "clicks")
# bronze column order, as written by ``sources.generators.gen_all``
COLUMNS = {
    "advertiser": ("id", "name", "updated_at", "created_at"),
    "campaign": ("id", "name", "bid", "budget", "start_date", "end_date",
                 "advertiser_id", "updated_at", "created_at"),
    "impressions": ("id", "campaign_id", "created_at"),
    "clicks": ("id", "campaign_id", "created_at"),
}
TICK_ID_BASE = 1_000_000_000  # above every generated impression id
TICK_ID_STRIDE = 100_000
REF_IMPRESSIONS = 500
REF_CTR = 0.12
SPREAD_FRAC = 0.02
SPREAD_IMPRESSIONS = 400
SPREAD_CTR = 0.08


@dataclass(frozen=True)
class TickSpec:
    advertisers: int  # of the generated lake
    campaigns_per_advertiser: int
    base_date: str

    @property
    def lake_campaigns(self) -> int:
        return self.advertisers * self.campaigns_per_advertiser


def tick_start(spec: TickSpec, k: int) -> dt.datetime:
    base = dt.datetime.fromisoformat(spec.base_date)
    return base + dt.timedelta(days=7, hours=k)


def make_tick(spec: TickSpec, seed: int, k: int) -> dict[str, list[tuple]]:
    """Rows of tick ``k`` per bronze table, in bronze column order."""
    rng = random.Random(seed * 1_000_003 + k)
    t0 = tick_start(spec, k)

    def stamp() -> dt.datetime:
        return t0 + dt.timedelta(seconds=rng.randrange(50 * 60))

    def clicks(imps: list[tuple], ctr: float) -> list[tuple]:
        return [
            (iid, cid, ts + dt.timedelta(seconds=rng.randint(1, 120)))
            for iid, cid, ts in imps
            if rng.random() < ctr
        ]

    adv_id = spec.advertisers + k + 1
    camp_ids = [spec.lake_campaigns + 2 * k + 1, spec.lake_campaigns + 2 * k + 2]
    start = dt.date.fromisoformat(spec.base_date)
    advertiser = [(adv_id, f"Advertiser T{k}", t0, t0)]
    campaign = [
        (
            cid,
            f"Campaign_{adv_id}_{cid}",
            Decimal(rng.randint(50, 500)) / 100,
            Decimal(rng.randint(5000, 50000)) / 100,
            start,
            start + dt.timedelta(days=rng.randint(7, 30)),
            adv_id,
            t0,
            t0,
        )
        for cid in camp_ids
    ]
    next_id = TICK_ID_BASE + k * TICK_ID_STRIDE
    ref = [(next_id + i, camp_ids[0], stamp()) for i in range(REF_IMPRESSIONS)]
    next_id += REF_IMPRESSIONS
    n_spread = max(1, round(spec.lake_campaigns * SPREAD_FRAC))
    targets = rng.sample(range(1, spec.lake_campaigns + 1), n_spread)
    spread = [
        (next_id + i, targets[i % n_spread], stamp())
        for i in range(SPREAD_IMPRESSIONS)
    ]
    return {
        "advertiser": advertiser,
        "campaign": campaign,
        "impressions": ref + spread,
        "clicks": clicks(ref, REF_CTR) + clicks(spread, SPREAD_CTR),
    }
