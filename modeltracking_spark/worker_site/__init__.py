"""The directory of the Python workers' start-up hook.

``session.get_spark`` puts :data:`SITE_DIR` first on
``spark.executorEnv.PYTHONPATH``; :mod:`site` then imports its
``sitecustomize.py`` as every worker interpreter starts.
"""

import os

SITE_DIR = os.path.dirname(os.path.abspath(__file__))
