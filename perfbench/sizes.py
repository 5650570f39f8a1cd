"""Input sizes of the benchmark workloads, shared by the generator and
the measured process. They are fixed: a change here re-baselines every
metric, so it is a benchmark change of its own."""

#: operations per run, the same on every run and both workloads:
#: operation 0 in the fresh process gives first_run_s; the next RAMP_OPS
#: are checked but not sampled, because JVM warm-up still ramps down over
#: them (etl_chain's operation 1 takes about 1.3x its later ones); the
#: median of the last SAMPLE_OPS is run_s. The count does not depend on
#: the clock, so every run's samples come from the same operations. A
#: third sample would cost about 14 s per pair of runs, which the run
#: budget cannot spare on a busy host (see NOTES.md). The generator
#: writes one day of inputs per operation.
RAMP_OPS = 1
SAMPLE_OPS = 2
OPS = 1 + RAMP_OPS + SAMPLE_OPS

# etl_chain: fetch_prices ticks per day
TICKS_PER_DAY = 40_000
INSTRUMENTS = 200
NULL_PK_SHARE = 0.02
DUP_SHARE = 0.05

# etl_chain: scd2_daily_ranges keys (INSTRUMENTS x SCD2_DATES at day 0,
# one new trade_date per instrument each later day)
SCD2_DATES = 100
SCD2_CHANGE_SHARE = 0.02

# etl_chain: sessions stream, one increment per operation
EVENTS_PER_INC = 5_000
STREAM_USERS = 300
STREAM_SPAN_H = 6
STREAM_DUP_SHARE = 0.01

# query_mix: star-schema tables
QM_CUSTOMERS = 1_500
QM_SUPPLIERS = 100
QM_PARTS = 2_000
QM_ORDERS = 15_000
QM_LINEITEMS = 60_000
QM_EVENTS = 10_000
QM_DOCS = 500
QM_VECS = 500
