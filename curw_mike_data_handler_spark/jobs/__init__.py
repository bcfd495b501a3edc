"""Runnable job entry points mirroring the reference's cron surface.

The reference's pipelines are invoked as getopt ``__main__`` scripts
from cron/bash wrappers (inputs/gen_mike_input_rf_linux.py:224-276,
outputs/extract_water_level.py:150-260, crontab.txt); this package is
that surface on the Spark engine:

    python -m curw_mike_data_handler_spark.jobs.rainfall         --help
    python -m curw_mike_data_handler_spark.jobs.rf_obs           --help
    python -m curw_mike_data_handler_spark.jobs.all_stations_raw --help
    python -m curw_mike_data_handler_spark.jobs.tide             --help
    python -m curw_mike_data_handler_spark.jobs.discharge        --help
    python -m curw_mike_data_handler_spark.jobs.extract          --help

Reproduced control-flow contracts:

* time-window validation (rf_linux:71-85 via
  ``functions.timegrid.check_time_format``) and the day-floored
  now−3d/now+2d defaults (rf_linux:253-263);
* the skip-if-exists idempotence gate — an existing output file means
  the cron tick is a no-op (rf_linux:271);
* the extract model whitelist and directory/file existence checks
  (wl_x:180-195, 239-242) with the reference's exit codes (2 for bad
  args via argparse, 1 for failed validation).

Inputs are parquet/CSV paths instead of MySQL pools (the sandbox has
no MySQL; the JDBC path is exercised separately against Derby in
tests/test_jdbc_derby.py) — everything downstream of the scan is the
same plan the library functions always run.
"""
