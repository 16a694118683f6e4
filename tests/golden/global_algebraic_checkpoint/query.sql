SELECT deviceId, count(*) AS cnt, sum(temperature) AS total, avg(humidity) AS hum
FROM stream GROUP BY deviceId
GLOBAL WINDOW TRIGGER WHEN count(*) >= 4 OR sum(humidity) >= 10
WITH (TIMESTAMP='ts', TIMEUNIT='ms')
