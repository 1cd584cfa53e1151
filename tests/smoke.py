"""Settings shared by the default-tier ``*_smoke`` siblings of the slow
randomized suites: each runs its slow twin's strategies under a fixed
``@seed``, first three examples, with no example database (so a run
never replays examples saved by an earlier one)."""

from hypothesis import HealthCheck, settings

SMOKE = settings(
    max_examples=3,
    deadline=None,
    database=None,
    suppress_health_check=list(HealthCheck),
)
