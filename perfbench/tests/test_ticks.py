import datetime as dt

from ticks import COLUMNS, SPREAD_FRAC, TickSpec, make_tick, tick_start

SPEC = TickSpec(advertisers=100, campaigns_per_advertiser=20, base_date="2024-01-01")


def test_same_seed_same_tick_other_seed_differs():
    assert make_tick(SPEC, 7, 3) == make_tick(SPEC, 7, 3)
    assert make_tick(SPEC, 7, 3) != make_tick(SPEC, 8, 3)
    assert make_tick(SPEC, 7, 3) != make_tick(SPEC, 7, 4)


def test_rows_match_bronze_columns():
    for table, rows in make_tick(SPEC, 1, 0).items():
        assert rows and all(len(r) == len(COLUMNS[table]) for r in rows)


def test_ticks_are_stamped_after_the_lake_and_the_previous_tick():
    # the generator stamps lake events in [BASE_DATE, BASE_DATE + 7 days)
    prev_max = dt.datetime(2024, 1, 8) - dt.timedelta(microseconds=1)
    for k in range(6):
        tick = make_tick(SPEC, 5, k)
        imps = [r[2] for r in tick["impressions"]]
        clicks = [r[2] for r in tick["clicks"]]
        assert min(imps) >= tick_start(SPEC, k) > prev_max
        prev_max = max(imps + clicks)
        assert prev_max < tick_start(SPEC, k + 1)


def test_ids_are_new_and_spread_targets_existing_campaigns():
    seen_imp, seen_camp, seen_adv = set(), set(), set()
    for k in range(5):
        tick = make_tick(SPEC, 2, k)
        new_camps = {r[0] for r in tick["campaign"]}
        assert min(new_camps) > SPEC.lake_campaigns
        assert not new_camps & seen_camp
        seen_camp |= new_camps
        (adv,) = tick["advertiser"]
        assert adv[0] > SPEC.advertisers and adv[0] not in seen_adv
        seen_adv.add(adv[0])
        ids = [r[0] for r in tick["impressions"]]
        assert len(set(ids)) == len(ids) and not set(ids) & seen_imp
        seen_imp |= set(ids)
        targets = {r[1] for r in tick["impressions"]} - new_camps
        assert len(targets) == round(SPEC.lake_campaigns * SPREAD_FRAC)
        assert all(1 <= c <= SPEC.lake_campaigns for c in targets)
        imp_ids = set(ids)
        assert all(r[0] in imp_ids for r in tick["clicks"])
