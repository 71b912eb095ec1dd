"""wordspell_spark — a PySpark-native distributed sketch / approximate
aggregation engine with the query capabilities of cannonflesh/wordspell.

Built from scratch on public PySpark APIs (DataFrame, pandas/Arrow UDFs,
AQE); not a port of the Go reference.  See SURVEY.md for the blueprint.

Importing the package in a Spark Python worker installs ``_zipguard``:
PySpark invalidates the import caches before every task, and an eager
``zipimporter`` then re-reads all of ``pyspark.zip`` ~16 times, ~0.2 s of
every task.  The guard re-reads an archive only when it changed on disk.
It installs only where a task is running (never on the driver) and only
where ``zipimporter`` is the eager kind; every library UDF imports this
package when a worker unpickles it, so the guard holds from a worker's
second task on.
"""

from . import _zipguard

__version__ = "0.1.0"

_zipguard.install()
