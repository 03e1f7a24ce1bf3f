.PHONY: test oracle scaling pyfiles audit smoke

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python scripts/check_oracle.py /root/testdata/sf0.01

scaling:
	python scripts/scaling_bench.py 600000

pyfiles:
	rm -f kgpipe_spark.zip
	zip -qr kgpipe_spark.zip kgpipe_spark

smoke:
	python jobs/run_pipeline.py --master 'local[8]' --rows 30000

audit:
	python scripts/plan_audit.py
