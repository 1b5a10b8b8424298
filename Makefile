# Deployment + verification targets (≙ /root/reference/Makefile recipe style).

.PHONY: zip test bench smoke clean

zip:
	python build_pyfiles.py dist

# the Tier-1 command of ROADMAP.md, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

smoke: zip
	spark-submit --master 'local[2]' --py-files dist/idr.zip dist/idr_main.py --help

clean:
	rm -rf dist
