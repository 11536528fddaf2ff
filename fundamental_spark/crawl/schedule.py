"""Scheduler cadence twin: the reference's job-slot logic as pure,
deterministic functions (scheduler.go:84-152, 209-282).

The reference ticks every minute and, under one jobMutex (jobs never
overlap — strictly serial), runs:

- minute 0 of hour 0:   sold spiders, every city in configured order
                        (scheduler.go:126-131)
- minute 30 of hour 0:  district hull update (scheduler.go:134-141)
- minute 0, every hour: active spiders, every city in order
                        (scheduler.go:144-148) — note this INCLUDES
                        midnight, where sold runs first, then active
- minute 0:             at most one city's weekly refresh, per the slot
                        grid below (scheduler.go:209-282)

Refresh slot grid (checkAndRunRefreshSpiders): time slots
[0,4,8,12,16,20] × weekdays Sunday..Saturday, filled hour-major —
all 7 midnight slots first (Sun..Sat), then all 7 4am slots, etc. —
and city i takes slot i. 42 slots; cities beyond 42 never refresh
(faithful to the reference). Each city refreshes once per WEEK.

This module is the slot computation; the spark-submit orchestration
entry that drives the actual runner modes is jobs/scheduler.py.
Weekday numbering follows Go's time.Weekday: Sunday=0 .. Saturday=6.
"""

from __future__ import annotations

REFRESH_TIME_SLOTS = (0, 4, 8, 12, 16, 20)
N_WEEKDAYS = 7  # Sunday=0 .. Saturday=6 (Go time.Weekday)


def refresh_slot_table(cities: list[str]) -> dict[str, tuple[int, int]]:
    """city -> (weekday, hour) weekly refresh slot, hour-major fill
    (scheduler.go:226-253). Cities past the 42 available slots get no
    slot, exactly like the reference's `if i < len(schedule)` guard."""
    schedule = [
        (day, hour) for hour in REFRESH_TIME_SLOTS for day in range(N_WEEKDAYS)
    ]
    return {
        city: schedule[i] for i, city in enumerate(cities) if i < len(schedule)
    }


def jobs_at(
    weekday: int, hour: int, minute: int, cities: list[str]
) -> list[tuple[str, str]]:
    """Ordered (job_type, city) list for one scheduler tick — the exact
    sequence the reference's executeScheduledJobs issues under its
    jobMutex (sold → hulls → active → refresh; cities in configured
    order within each job type)."""
    jobs: list[tuple[str, str]] = []
    if hour == 0 and minute == 0:
        jobs += [("sold", c) for c in cities]
    if hour == 0 and minute == 30:
        jobs.append(("hulls", "*"))
    if minute == 0:
        jobs += [("active", c) for c in cities]
        slot = (weekday, hour)
        # at most one city occupies any (weekday, hour) slot
        for city, s in refresh_slot_table(cities).items():
            if s == slot:
                jobs.append(("refresh", city))
    return jobs

