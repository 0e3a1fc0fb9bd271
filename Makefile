# Repo-level gates — the same checks the external driver and the local
# harness run, promoted out of the agent harness so they survive any
# environment (CI, a fresh clone, a reviewer's shell).

.PHONY: verify test perftest bench probes lock

# Driver simulation: import __spark_entry__ with a PLAIN SparkSession
# (hostile non-UTC timezone, no engine tuning), smoke entry(), and
# compare a sample of queries() against their DuckDB oracle_sql() at
# sf0.01 — the external driver's contract, end to end. ~2 min.
verify:
	python .claude/skills/verify/driver_sim.py

# Full local gate: every registered query vs its oracle at the driver's
# SF, driver-style canonicalization of every output, plan-shape
# assertions, recall/error gates for the approximate operators, intent
# tests. ~21 min on 4 cores.
test:
	python -m pytest tests/ -q

# The benchmark's own tests: generator determinism, metric names and
# tiny end-to-end runs of both perfbench workloads. `make test`
# collects only tests/, so run this after touching perfbench/ or an
# engine path its workloads drive. A few minutes.
perftest:
	python -m pytest perfbench/tests -q

# Headline-query benchmark at $$SPARK_GRAFT_SF_DIR (default sf0.1),
# min-of-5 per query; prints one JSON line.
bench:
	python bench.py

# Beyond-SF stress probes (CC chain/skew, bloom 10x, epoch shuffle);
# results recorded in SCALE.md. Minutes.
probes:
	python tools/stress_probes.py

# Regenerate both lockfiles: the module attestation lockfile
# (tests/module_fingerprints.json — after touching recipes_spark/, the
# moment to decide whether registry._RECHECK entries are needed) and the
# headline plan-fingerprint lockfile (tools/plan_fingerprints.json —
# after a DELIBERATE physical-plan change; the test names the changed
# queries). Commit the regenerated files with the change that needs them.
lock:
	python tests/test_recheck_hygiene.py
	python tools/plan_fingerprints.py
