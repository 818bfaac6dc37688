SF_DIR ?= /root/testdata/sf0.01

.PHONY: test verify verify-plain bench plans smoke scaling stress kafka-smoke selftest

test:
	python -m pytest tests/ -x -q

selftest:  # the benchmark's own output-check self-tests
	python -m pytest perfbench/test_checks.py -q

verify:
	python tools/verify_oracle.py --sf $(SF_DIR) --rows-only-too

verify-plain:  # driver-fidelity: bare SparkSession like the driver's
	python tools/verify_oracle.py --sf $(SF_DIR) --rows-only-too --plain-session

bench:
	python bench.py

plans:
	python tools/plan_audit.py

scaling:  # regenerates SCALING.md's machine-owned table (run on a quiet host)
	python tools/scaling_report.py

stress:  # sf~1 replicated stress; replaces SCALING.md's 10x section
	python tools/stress_big.py

kafka-smoke:  # needs Docker + network (see TESTDATA.md "Kafka broker smoke")
	docker compose -f compose-kafka.yml up -d --wait
	KTPS_KAFKA_BROKERS=localhost:9092 KTPS_KAFKA_TOPIC=smoke \
		python -m pytest tests/test_kafka_broker.py -v
	docker compose -f compose-kafka.yml down

smoke:  # the driver's t1 check through the real contract surface
	python -c "import sys; sys.path.insert(0, '.'); \
	import __spark_entry__ as e; \
	from pyspark.sql import SparkSession; \
	s = SparkSession.builder.master('local[32]').getOrCreate(); \
	print('entry rows:', e.entry(s).count()); \
	q, o = e.queries(), e.oracle_sql(); \
	print(len(q), 'queries,', len(o), 'oracles')"
