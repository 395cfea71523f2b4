"""Sources (SURVEY.md §2.1): REST login, driver-side page walk and the
streaming `rest` Python DataSource (`rest.py`), JSON-file and JDBC readers
(`files.py`), and the hermetic stub of the reference's HTTP API used by
tests and registered operators (`stub_api.py`)."""
