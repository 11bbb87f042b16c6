# Convenience targets. The test suite itself is plain pytest; these wrap
# the environment-gated flows that need services or non-default env.

.PHONY: test test-full bench perfbench verify postgres-up postgres-live-test postgres-down \
        postgres-local-up postgres-local-test postgres-local-down

test:
	python -m pytest tests/ -q

# The complete suite, including the heavy lifecycle/stream files that the
# default run skips (tests/conftest.py::_HEAVY_TEST_FILES).
test-full:
	SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -q

bench:
	python bench.py

# The repository benchmark (perfbench/README.md): the traced machine_events
# run prints the per-layer table, then llm_index runs untraced.
perfbench:
	python3 perfbench/run.py --workload machine_events --seed 1 --seconds 6 --trace 1
	python3 perfbench/run.py --workload llm_index --seed 1 --seconds 6 --trace 0

verify:
	python tools/verify_driver.py --all

# --- Live-Postgres gate (r6 VERDICT #9; deploy/README.md) --------------
# Requires a Docker daemon. The gate test drops/recreates both reference
# tables, so it must point at a SCRATCH database — the compose file
# provisions exactly that.

postgres-up:
	docker compose -f deploy/docker-compose.postgres-test.yml up -d --wait

postgres-live-test:
	POSTGRES_DSN=jdbc:postgresql://localhost:5432/machines_test \
	POSTGRES_USER=postgres POSTGRES_PASSWORD=postgres \
	python -m pytest tests/test_postgres_live.py -q

postgres-down:
	docker compose -f deploy/docker-compose.postgres-test.yml down -v

# --- No-Docker live-Postgres gate (r8 — first recorded green run) ------
# Uses plain postgres/initdb/pg_ctl binaries; runs the server as the
# `postgres` user on a scratch cluster under /tmp. The JDBC jar must be
# on BOTH --driver-class-path and --jars (py4j Class.forName probes the
# system classloader). Override PG_JDBC_JAR with your driver path.

PG_JDBC_JAR ?= /root/reference/drivers/postgresql-42.7.5.jar
PG_PORT ?= 54329
PG_DATA ?= /tmp/pgdata

postgres-local-up:
	mkdir -p $(PG_DATA) && chown postgres $(PG_DATA)
	runuser -u postgres -- initdb -D $(PG_DATA) -U postgres --auth=trust
	runuser -u postgres -- pg_ctl -D $(PG_DATA) -l /tmp/pg.log \
	  -o "-p $(PG_PORT) -c listen_addresses=localhost -k $(PG_DATA)" start
	psql -h localhost -p $(PG_PORT) -U postgres \
	  -c "CREATE DATABASE machines;"

postgres-local-test:
	POSTGRES_DSN=jdbc:postgresql://localhost:$(PG_PORT)/machines \
	POSTGRES_USER=postgres POSTGRES_PASSWORD= \
	PYSPARK_SUBMIT_ARGS="--driver-class-path $(PG_JDBC_JAR) --jars $(PG_JDBC_JAR) pyspark-shell" \
	python -m pytest tests/test_postgres_live.py -q

postgres-local-down:
	runuser -u postgres -- pg_ctl -D $(PG_DATA) stop || true
	rm -rf $(PG_DATA)
